package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFns._

/** Public vector-index surface: product quantization (encode + ADC
  * scoring) and IVF cell routing as plain DataFrame transforms — the
  * user-facing API behind the registry's `embedding_pq` / `sim_ann_adc` /
  * `sim_ann_ivf_pq` queries, exposed so a pipeline can build, persist, and
  * serve a compressed ANN index without going through the query registry.
  *
  * Column contract: every input frame carries `vec_id: BIGINT` and
  * `v: ARRAY<BIGINT>` — a fixed-point quantized embedding
  * ([[graft.functions.VectorFns.quantize]]). All distances are EXACT
  * integer arithmetic, so encode/score results are bit-identical across
  * partitionings and engines (the same determinism contract the oracle
  * gate enforces on the registry queries).
  *
  * Scale shape: codebooks and centroid sets are bounded driver state (the
  * "load the index" step — K×M subvectors / K full vectors), shipped into
  * plans as broadcast literals; [[encode]], [[adcScore]] and
  * [[assignCells]] are pure projections (zero exchanges), so they run
  * identically over batch frames and streaming micro-batches
  * (`VectorIndexStreamingSpec` pins that parity).
  */
object VectorIndex {

  /** PQ geometry: `subspaces` × `subDim` must cover the embedding dim;
    * `codewords` per subspace. Defaults match the registry (8×8×16 over
    * 64-dim embeddings: 64 floats → 8 small ints, 32× vs float32).
    */
  final case class PqConfig(subspaces: Int = 8, subDim: Int = 8, codewords: Int = 16)

  /** Per-subspace codebook: for each m, (code, subvector) rows. Codes are
    * the source row's vec_id — value-keyed, never positional, so sparse
    * ids stay correct.
    */
  type Codebook = IndexedSeq[Seq[(Long, Array[Long])]]

  /** Cold-start codebook: subvectors of the rows with
    * `offset <= vec_id < offset + codewords`. At 100 TB the codebook is
    * trained offline and reloaded; this collect IS that bounded load
    * (K rows). `offset` matters for RESIDUAL encoding: the rows that seed
    * the coarse centroids have all-zero residuals (they are their own
    * cell centers), so a residual codebook must draw its codewords from a
    * disjoint row range.
    */
  def codebook(index: DataFrame, cfg: PqConfig = PqConfig(),
      offset: Long = 0L): Codebook = {
    val rows = index
      .filter(col("vec_id") >= offset && col("vec_id") < offset + cfg.codewords)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1).toSeq
    (0 until cfg.subspaces).map(m =>
      rows.map { case (k, v) =>
        (k, v.slice(m * cfg.subDim, m * cfg.subDim + cfg.subDim))
      })
  }

  /** Lloyd-TRAINED codebook: `rounds` iterations of exact-integer argmin
    * assignment + floor-mean codeword update, seeded from the cold-start
    * [[codebook]]. Each round is one distributed groupBy over
    * (subspace, code, pos) whose output is bounded at M×K×S rows (≤ 1024
    * at the default geometry) — the same "train the index" job shape as
    * `sim_ann_ivf_kmeans`'s coarse refinement, and at 100 TB the same
    * plan with the collected codebook checkpointed between rounds.
    *
    * Deterministic by construction: assignment ties go to the smaller
    * code, updates are floor(sum/count) where per-cell sums stay ≪ 2^53
    * (|element| ≤ ~2e8 fixed-point × ≤ 2^25 rows/cell at sf1), so the
    * double division is exact and an oracle engine replays the training
    * bit-for-bit. A codeword that loses every member keeps its previous
    * subvector (deterministic empty-cell handling). Codes keep their
    * VALUE keys across rounds.
    */
  def trainCodebook(index: DataFrame, cfg: PqConfig = PqConfig(),
      rounds: Int = 1): Codebook = {
    var cb = codebook(index, cfg)
    for (_ <- 0 until rounds) {
      val sums = index.select(explode(array((0 until cfg.subspaces).map { m =>
          struct(lit(m).as("m"),
            assign(cb, cfg, m).getField("k").as("k"),
            slice(col("v"), m * cfg.subDim + 1, cfg.subDim).as("sv"))
        }: _*)).as("a"))
        .select(col("a.m"), col("a.k"), posexplode(col("a.sv")))
        .groupBy(col("m"), col("k"), col("pos"))
        .agg(sum(col("col")).as("sx"), count(lit(1)).as("cnt"))
        .collect()
      val upd = sums.groupBy(r => (r.getInt(0), r.getLong(1)))
      cb = (0 until cfg.subspaces).map { m =>
        cb(m).map { case (k, old) =>
          upd.get((m, k)) match {
            case Some(rs) =>
              val arr = new Array[Long](cfg.subDim)
              rs.foreach(r => arr(r.getInt(2)) =
                math.floor(r.getLong(3).toDouble / r.getLong(4)).toLong)
              (k, arr)
            case scala.None => (k, old)
          }
        }
      }
    }
    cb
  }

  /** Argmin-distance (d, k) struct for subspace m: array_min over the
    * broadcast-literal codebook — lexicographic struct ordering = smallest
    * exact integer L2², ties to the smaller code. A pure map, no shuffle.
    */
  private def assign(cb: Codebook, cfg: PqConfig, m: Int): Column = {
    val lits = array(cb(m).map { case (k, cv) =>
      struct(array(cv.toIndexedSeq.map(lit(_)): _*).as("cv"), lit(k).as("k"))
    }: _*)
    array_min(transform(lits, c => struct(
      qdist2(slice(col("v"), m * cfg.subDim + 1, cfg.subDim), c.getField("cv")).as("d"),
      c.getField("k").as("k"))))
  }

  /** Append `codes: ARRAY<INT>` (one codeword id per subspace) and
    * `err: BIGINT` (exact integer reconstruction error Σ_m L2²) to `df`.
    * Pure projection — streaming-safe.
    */
  def encode(df: DataFrame, cb: Codebook, cfg: PqConfig = PqConfig()): DataFrame = {
    val asn = (0 until cfg.subspaces).map(m => assign(cb, cfg, m))
    df.withColumn("codes", array(asn.map(_.getField("k").cast(IntegerType)): _*))
      .withColumn("err", asn.map(_.getField("d")).reduce(_ + _).cast(LongType))
  }

  /** Driver-side exact integer L2² (LUT construction). */
  private[llm] def qdist2Arr(x: Array[Long], y: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < x.length) { val dd = x(i) - y(i); s += dd * dd; i += 1 }
    s
  }

  /** ADC distance for a `codes` column against a full-precision quantized
    * query: Σ_m LUT_m[code_m], the (codewords × subspaces)-entry
    * query-vs-codeword table as broadcast map literals keyed by code
    * VALUE. The scoring scan reads codes only — never the embedding.
    */
  def adcScore(cb: Codebook, query: Array[Long], cfg: PqConfig = PqConfig()): Column = {
    val luts = (0 until cfg.subspaces).map { m =>
      val qsub = query.slice(m * cfg.subDim, m * cfg.subDim + cfg.subDim)
      map_from_arrays(
        array(cb(m).map { case (k, _) => lit(k.toInt) }: _*),
        array(cb(m).map { case (_, cv) => lit(qdist2Arr(qsub, cv)) }: _*))
    }
    (0 until cfg.subspaces)
      .map(m => element_at(luts(m), col("codes").getItem(m))).reduce(_ + _)
  }

  /** IVF coarse-quantizer state: the full vectors with `vec_id < k`
    * (cold-start centroids — one bounded collect, the same "load the
    * index" shape as [[codebook]]).
    */
  def centroids(index: DataFrame, k: Int = 16): Seq[(Long, Array[Long])] =
    index.filter(col("vec_id") < k).select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1).toSeq

  /** Append `cell: BIGINT` — argmax-cosine assignment against broadcast
    * literal centroids, ties to the smaller centroid id. Pure map.
    */
  def assignCells(df: DataFrame, cents: Seq[(Long, Array[Long])]): DataFrame = {
    // centroid norms are constants → literals; the row's own norm is
    // computed ONCE (reusing an existing `n2` column when the caller has
    // one) instead of once per centroid — 16 redundant 64-element
    // aggregates per row otherwise
    val centLit = array(cents.map { case (cid, cv) =>
      struct(lit(cid).as("cid"), array(cv.toIndexedSeq.map(lit(_)): _*).as("cv"),
        lit(cv.map(x => x * x).sum).as("cn2"))
    }: _*)
    val hasN2 = df.columns.contains("n2")
    val base = if (hasN2) df else df.withColumn("n2", qnorm2(col("v")))
    val out = base.withColumn("cell",
      -array_max(transform(centLit, c => struct(
        qcosine(col("v"), col("n2"), c.getField("cv"), c.getField("cn2")).as("cos"),
        (-c.getField("cid")).as("ncid")))).getField("ncid"))
    if (hasN2) out else out.drop("n2")
  }

  /** The `nprobe` centroid ids nearest the query by cosine (ties to the
    * smaller id) — the probe set an IVF search scans.
    */
  def probeCells(cents: Seq[(Long, Array[Long])], query: Array[Long],
      nprobe: Int): Seq[Long] =
    cents.map { case (cid, cv) => (cid, qcosine(query, cv)) }
      .sortBy { case (cid, cos) => (-cos, cid) }.take(nprobe).map(_._1)

  /** One Lloyd round of the coarse quantizer over driver-held centroids:
    * [[assignCells]], then each cell's element-wise floor(sum/count) via
    * one bounded (cells × dim) aggregate collect. Per-cell sums stay
    * ≪ 2^53, so the double division is exact and the oracle's training
    * CTEs replay it bit-for-bit. A centroid that loses every member is
    * DROPPED — the oracle's rule (its refined centroids come from
    * `GROUP BY cell`), shared by [[lloydRoundFrame]]. Empty in, empty out.
    */
  def lloydRound(index: DataFrame,
      cents: Seq[(Long, Array[Long])]): Seq[(Long, Array[Long])] =
    if (cents.isEmpty) cents
    else {
      val dim = cents.head._2.length
      assignCells(index, cents)
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("sx"), count(lit(1)).as("cnt"))
        .collect()
        .groupBy(_.getLong(0)).toSeq.map { case (cell, rs) =>
          val arr = new Array[Long](dim)
          rs.foreach(r => arr(r.getInt(1)) =
            math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong)
          (cell, arr)
        }.sortBy(_._1)
    }

  /** Replace `v` with the RESIDUAL `v − centroid(cell)` (element-wise,
    * exact integers) for a frame that already carries `cell` from
    * [[assignCells]] — the standard IVF-PQ refinement: residuals have
    * smaller variance than raw vectors, so the same codebook budget
    * quantizes them with less error and ADC recall improves. Pure map
    * against a broadcast cell→centroid map literal; streaming-safe.
    */
  def residualize(df: DataFrame, cents: Seq[(Long, Array[Long])]): DataFrame = {
    val centMap = map_from_arrays(
      array(cents.map { case (cid, _) => lit(cid) }: _*),
      array(cents.map { case (_, cv) => array(cv.toIndexedSeq.map(lit(_)): _*) }: _*))
    df.withColumn("v",
      zip_with(col("v"), element_at(centMap, col("cell")), (a, b) => a - b))
  }

  /** Driver-side residual of a query against one centroid. */
  def residualArr(query: Array[Long], cent: Array[Long]): Array[Long] =
    query.indices.map(i => query(i) - cent(i)).toArray

  /** Write a CELL-PARTITIONED layout: assign cells, cluster by cell (the
    * one shuffle — the index-build cost, paid once), and write parquet
    * partitioned by `cell`. This is the on-disk shape that makes an IVF
    * probe prune FILES, not just rows: a search over nprobe cells opens
    * nprobe directories and leaves the rest of the corpus untouched —
    * the "probe prunes files" step the in-memory `sim_ann_ivf` plan
    * can't show, and the layout a 100 TB deployment actually serves
    * from (per-cell file sets scale with corpus size; the probe cost
    * scales with the probed cells only).
    */
  def writeCellLayout(index: DataFrame, cents: Seq[(Long, Array[Long])],
      dir: String): Unit =
    assignCells(index, cents)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)

  /** Read ONLY the probed cells of a [[writeCellLayout]] dir. The `cell`
    * predicate is a partition filter — directory-level pruning, zero
    * bytes read from unprobed cells (CellLayoutSpec pins the pruned file
    * set via `inputFiles`). `cell` comes back as the partition column's
    * inferred int type; cast to BIGINT to restore the column contract.
    */
  def readProbed(spark: org.apache.spark.sql.SparkSession, dir: String,
      cells: Seq[Long]): DataFrame =
    spark.read.parquet(dir)
      .filter(col("cell").isin(cells: _*))
      .withColumn("cell", col("cell").cast(LongType))

  // --------------------------------------------------------------------
  // Frame-held centroids: the K-cutover for cell ASSIGNMENT and Lloyd
  // training. The literal-array path above ([[assignCells]]) embeds all
  // K centroids in the plan and [[lloydRound]] collects a K×dim
  // aggregate to the driver — both grow linearly with K, and K itself is
  // derived to grow linearly with the corpus (SemDeDup's fixed target
  // cell population). At 1e10 embeddings K ≈ 5M: a multi-GB expression
  // tree (codegen collapses far earlier), O(K·dim) work per row, and a
  // ~320M-row driver collect. Past [[CellAssignJoinCutover]] the
  // centroids therefore stay in a DataFrame and assignment runs as a
  // PRUNED JOIN through a two-level coarse quantizer — the same cutover
  // discipline as dedup_cluster's 100M-edge star-contraction switch.
  // --------------------------------------------------------------------

  /** Past this many centroids, [[assignCellsAuto]] dispatches from the
    * broadcast-literal argmax to the pruned-join path. Below it the
    * literal array is ≤ ~34 MB of plan (64-dim fixed-point longs) and the
    * Lloyd collect ≤ ~4M rows — the bounded "load the index" regime; past
    * it neither the plan nor the driver may hold the centroid set.
    */
  val CellAssignJoinCutover: Int = 65536

  /** Default number of coarse groups probed per row on the join path.
    * Probing is the standard IVF trade (FAISS's coarse-quantizer-over-
    * centroids shape): a row's true argmax centroid lives in its nearest
    * coarse group with high probability, and probing the top-P groups
    * bounds per-row work at O(P·K/K1) ≈ O(P·√K) instead of O(K). With
    * `probe >= the coarse-group count` the path is EXACT (every centroid
    * scanned) — CellAssignCutoverSpec pins that route row-identical to
    * the literal path.
    */
  val DefaultAssignProbe: Int = 8

  /** Ceiling on the coarse-group count K1 = ceil(sqrt(K)): K1×dim longs
    * are collected once and broadcast (≤ 4096 × 64 × 8 B ≈ 2 MB) — the
    * only driver state the join path ever holds.
    */
  val MaxCoarseGroups: Int = 4096

  /** Driver-side centroid rows → the (cid, cv, cn2) frame contract of the
    * join path (migration shim between the two representations).
    */
  def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[(Long, Array[Long])]): DataFrame = {
    import spark.implicits._
    cents.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cid", "cv")
      .withColumn("cn2", qnorm2(col("cv")))
  }

  /** Cold-start centroid FRAME: the K smallest vec_ids present — the same
    * seeding contract as [[LlmQueries.coldStartRows]] / the oracle's
    * `row_number() OVER (ORDER BY vec_id) <= K`, kept distributed. The
    * sort-limit is a per-partition top-K merge (32·K rows through one
    * task) — acceptable as a one-time index-build step; a production
    * deployment seeds by reservoir sample instead, which this API accepts
    * as any (cid, cv, cn2) frame.
    */
  def coldStartFrame(index: DataFrame, k: Int): DataFrame =
    index.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
      .withColumn("cn2", qnorm2(col("cv")))

  /** The bounded coarse-quantizer collect: the K1 smallest-cid centroids
    * of `centDf`, K1 = min([[MaxCoarseGroups]], ceil(sqrt(K))).
    */
  private def coarseRows(centDf: DataFrame, k: Long): Array[(Long, Array[Long], Long)] = {
    val k1 = math.min(MaxCoarseGroups.toLong, math.ceil(math.sqrt(k.toDouble)).toLong).toInt
    centDf.orderBy(col("cid")).limit(math.max(1, k1))
      .select(col("cid"), col("cv"), col("cn2")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_._1)
  }

  /** Top-`probe` coarse-group ids for a (v, n2) row, by descending cosine
    * with ties to the smaller gid — the same (cos, −cid) order the
    * assignment argmax uses, so probe-rank-1 IS the row's nearest coarse
    * group. Production path: the [[graft.functions.CoarseProbe]] codegen
    * expression over an `addReferenceObj` broadcast handle (no plan
    * literals — the whole point of the path; no per-row ScalaUDF
    * encoder/boxing either).
    */
  private def probeCol(
      bc: org.apache.spark.broadcast.Broadcast[graft.functions.CoarseProbeKernel.Groups],
      probe: Int, v: Column, n2: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.CoarseProbe(
        org.apache.spark.sql.graftbridge.Bridge.expression(v),
        org.apache.spark.sql.graftbridge.Bridge.expression(n2), bc, probe))

  /** The interpreted-UDF formulation [[probeCol]] replaced — retained
    * ONLY as the A/B reference CellAssignCutoverSpec pins the expression
    * against (same Double op order, same tuple-sorted total ordering).
    */
  private[llm] def probeUdf(
      bc: org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Long], Long)]],
      probe: Int) =
    udf((v: Seq[Long], n2: Long) => {
      val va = v.toArray
      val scored = bc.value.map { case (gid, gv, gn2) =>
        var dot = 0L; var i = 0
        while (i < va.length) { dot += va(i) * gv(i); i += 1 }
        val cos = dot.toDouble / (math.sqrt(n2.toDouble) * math.sqrt(gn2.toDouble))
        (-cos, gid)
      }
      scored.sorted.take(math.min(probe, scored.length)).map(_._2).toSeq
    })

  /** Append `cell: BIGINT` via the pruned join: rows probe their top-P
    * coarse groups, join the per-group centroid-member arrays on the
    * group id, and take the (cos, −cid) struct max — the SAME Double op
    * order and tie-break as [[assignCells]], so whenever the probed
    * groups contain the row's true argmax centroid (always, when
    * `probe >= coarse-group count`) the result is row-identical to the
    * literal path. Shuffle volume: n·P probe rows (~0.5 KB each) + one
    * vec_id re-group — linear in the corpus, independent of K on the
    * driver and in the plan.
    *
    * `centDf` contract: (cid BIGINT, cv ARRAY<BIGINT>, cn2 BIGINT).
    * `df` must carry `vec_id` and `v` (and optionally `n2`).
    */
  def assignCellsJoin(df: DataFrame, centDf: DataFrame, k: Long,
      probe: Int = DefaultAssignProbe): DataFrame = {
    val spark = df.sparkSession
    val coarse = coarseRows(centDf, k)
    val bcAll = spark.sparkContext.broadcast(
      graft.functions.CoarseProbeKernel.pack(coarse))
    // exact coarse-group membership for every centroid: rank-1 probe
    // (argmax over ALL K1 groups — no pruning at this level)
    val members = graft.FrameRegistry.transient(spark, "cell_members",
      centDf
        .withColumn("g",
          element_at(probeCol(bcAll, 1, col("cv"), col("cn2")), 1))
        .groupBy(col("g"))
        .agg(collect_list(struct(col("cid"), col("cv"), col("cn2"))).as("members")))
    // rows probe MEMBER-BEARING groups only: duplicate coarse centroids
    // can leave a group empty under the rank-1 smaller-gid tie-break, and
    // a row whose probed groups were all empty would vanish through the
    // inner join below — a silently dropped document. Restricting the
    // row-probe broadcast to live gids (a bounded ≤K1 collect off the
    // members frame, which the transient registration just cached) makes
    // every probe land on a non-empty group, so the join is total: every
    // vec_id gets a cell. Exactness is preserved — every centroid lives
    // in SOME live group, so `probe >= live-group count` still scans all
    // K (the CellAssignCutoverSpec pin).
    val liveGids = members.select(col("g")).collect().map(_.getLong(0)).toSet
    val bc = spark.sparkContext.broadcast(
      graft.functions.CoarseProbeKernel.pack(coarse.filter(c => liveGids(c._1))))
    val hasN2 = df.columns.contains("n2")
    val base = if (hasN2) df else df.withColumn("n2", qnorm2(col("v")))
    val best = base.select(col("vec_id"), col("v"), col("n2"))
      .withColumn("g", explode(probeCol(bc, probe, col("v"), col("n2"))))
      .join(members, Seq("g"))
      .select(col("vec_id"),
        array_max(transform(col("members"), c => struct(
          qcosine(col("v"), col("n2"), c.getField("cv"), c.getField("cn2")).as("cos"),
          (-c.getField("cid")).as("ncid")))).as("b"))
      .groupBy(col("vec_id")).agg(max(col("b")).as("b"))
      .select(col("vec_id"), (-col("b").getField("ncid")).as("cell"))
    df.join(best, Seq("vec_id"))
  }

  /** [[lloydRound]] over frame-held centroids: pruned-join assignment →
    * (cell, pos) floor-mean aggregate → centroid frame rebuilt by sorting
    * the per-cell (pos, mean) structs back into an array. NOTHING K-sized
    * touches the driver; the floor-mean arithmetic and the emptied-cell
    * rule (dropped) are [[lloydRound]]'s, so at full probe both rounds
    * return the same centroids. `cents` is cached for the round and
    * released once the returned (cid, cv, cn2) frame is materialized.
    */
  def lloydRoundFrame(index: DataFrame, cents: DataFrame, k: Long,
      probe: Int = DefaultAssignProbe): DataFrame = {
    val seeds = cents.persist()
    val next = assignCellsJoin(index.select(col("vec_id"), col("v"), col("n2")),
        seeds, k, probe)
      .select(col("cell"), posexplode(col("v")))
      .groupBy(col("cell"), col("pos"))
      .agg(floor(sum(col("col")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("cv"))
      .select(col("cell").as("cid"), col("cv"))
      .withColumn("cn2", qnorm2(col("cv")))
      .persist()
    next.count() // materialize before releasing the seeds
    seeds.unpersist()
    next
  }
}
