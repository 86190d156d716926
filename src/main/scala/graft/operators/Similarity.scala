package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** §E similarity search over the `embeddings` table (64-dim float
  * vectors) + §D.5 embedding-cosine near-dup.
  *
  * Cosine math uses builtin higher-order functions (zip_with +
  * sequential aggregate in index order) so both Spark and the DuckDB
  * oracle sum the same doubles in the same order — bit-identical.
  *
  * Scale design:
  *  - brute force is the exact baseline: per-query top-k via the
  *    TopKAgg map-side k-heap aggregate (partial heaps merge in the
  *    exchange; NO WindowExec / global sort — PlanAuditSpec pins the
  *    plan shape), no driver collection. At 100 TB the query side is
  *    broadcast and the corpus streams through a single projection.
  *  - the LSH variant buckets vectors by random-hyperplane sign bits;
  *    candidate scoring touches only same-bucket vectors (expected
  *    n/2^bits of the corpus per query), trading recall for a ~2^bits
  *    reduction in scored pairs. Bits are a tunable; recall is measured
  *    against s1 in SimilaritySpec.
  */
object Similarity {

  /** Session-scoped cache of trained quantizer/PQ models: d5, s3 and s5
    * train the SAME deterministic coarse quantizer (same data, sample
    * contract, seed), and each training pays a full-table TakeOrdered
    * sample scan — once per session is enough. Same keying/bounding
    * contract as Dedup.relCache. */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def cachedModel[T <: AnyRef](s: SparkSession, dir: String, key: String)
                                      (build: => T): T = {
    if (modelCache.size > 64) modelCache.clear()
    val k = s"${Dedup.sessionId(s)}:$dir:$key"
    // get → build unlocked → putIfAbsent, never computeIfAbsent: model
    // builds may grow dependencies that re-enter this cache (the exact
    // nested-computeIfAbsent recursive-update crash Dedup.relCache had),
    // so keep the build outside the map's bin lock permanently.
    var v = modelCache.get(k)
    if (v == null) {
      val built = build
      val prev = modelCache.putIfAbsent(k, built)
      v = if (prev != null) prev else built
    }
    v.asInstanceOf[T]
  }

  /** Coarse-cell count for the IVF-tiled operators (d5 / s6):
    * `spark.graft.ann.k` when set, else ~√n clamped to [16, 4096] —
    * the documented corpus-scale growth. Per-probe candidate volume is
    * ~n/k per cell, so fixed k makes the kNN join quadratic as the
    * corpus grows; √n keeps tiles bounded (sf1 checkpoint: s6 at fixed
    * k=16 ran ~n², √n restores ~linear). At the test SFs (n ≤ 2000)
    * the clamp floors at the historical 16, so every oracle and recall
    * gate sees the same cells as before. d5's pair set is k-invariant
    * (the tile prune is lossless). The count() is parquet metadata. */
  private def defaultK(s: SparkSession, dir: String): Int =
    s.conf.getOption("spark.graft.ann.k").map(_.toInt).getOrElse {
      // count the RAW table: embeddings() repartitions for downstream
      // parallelism, and counting THAT pays the corpus shuffle; the
      // bare scan count is parquet-footer metadata
      val n = Tables.embeddings(s, dir).count()
      math.max(16, math.min(4096, math.round(math.sqrt(n.toDouble)).toInt))
    }

  /** The shared coarse quantizer (d5 / s6 via [[defaultK]]; s3 / s5
    * keep their own fixed k). */
  private def coarseCentroids(s: SparkSession, dir: String, k: Int): Array[Array[Double]] =
    cachedModel(s, dir, s"cents$k") {
      graft.functions.Quantizer.train(
        embeddings(s, dir).withColumn("nrm", norm(col("emb"))), "vec_id", "emb", k)
    }

  /** dot(a, b) summed left-to-right in index order (order matters for
    * double reproducibility across engines) — a native codegen'd
    * expression, ~50× the throughput of zip_with + aggregate lambdas on
    * pair joins. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Null-safe cosine: a zero-norm side yields NULL (it has no
    * direction — comparisons and top-k heaps treat NULL as no-match)
    * instead of an ANSI DIVIDE_BY_ZERO error (Spark 4 raises it even
    * for double division). */
  def cosine(a: Column, b: Column): Column = {
    val den = norm(a) * norm(b)
    when(den =!= 0.0, dot(a, b) / den)
  }

  private def embeddings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
    // Small-source guard: a corpus that scans as fewer partitions than
    // the session parallelism (one parquet file = 1-2 tasks) starves
    // every downstream broadcast-shaped candidate join — those preserve
    // their streamed input's partitioning, so an s6 probe over a
    // 2-partition scan runs on 2 cores no matter the cluster (measured
    // 174 s of a 191 s sf1 run in ONE such stage). At real corpus scale
    // the scan already exceeds the parallelism and this is a no-op.
    val n = s.sessionState.conf.numShufflePartitions
    if (raw.rdd.getNumPartitions < n) raw.repartition(n) else raw
  }

  // DuckDB mirror: list_dot_product sums in index order over DOUBLE[].
  private val EmbSql =
    "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)"
  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b)/(sqrt(list_dot_product($a, $a))*sqrt(list_dot_product($b, $b)))"

  /** d5: embedding-cosine near-dup pairs (cos ≥ 0.4 — above the random-
    * pair band for this corpus), EXACT via IVF-cell candidates with
    * lossless angular pruning — no all-pairs nested-loop join.
    *
    * Every vector is assigned to its nearest trained centroid; for any
    * x in cell i (angle to centroid ≤ rᵢ) and y in cell j,
    * angle(x,y) ≥ angle(cᵢ,cⱼ) − rᵢ − rⱼ by the triangle inequality on
    * the sphere, so a cell pair whose bound stays below the cosine
    * threshold cannot contain a qualifying pair and is skipped — a
    * correctness-preserving prune for ANY centroids. The candidate join
    * is equi on the admissible UNORDERED (cell_a ≤ cell_b) tile list
    * (≤ k(k+1)/2 tiny rows, broadcast; ids oriented at emit), so the
    * physical plan is a hash join over cell-distributed probes, never a
    * CartesianProduct/BroadcastNestedLoopJoin, and the shuffle keys
    * distribute work by cell tile. On clustered real-embedding corpora
    * the prune removes most tiles; on isotropic data (this synthetic
    * set) it degrades to all tiles — the same work as the exact answer
    * requires. k is a config (spark.graft.ann.k) and should grow ~√n at
    * corpus scale so tiles stay bounded. */
  val d5_embed_neardup: Relational.Q = (s, dir) =>
    // session-cached: d8_semdedup consumes these pairs as its edge list,
    // and the pair relation is tiny relative to the corpus (same reuse
    // contract as d3's pairs08 → d7/p2/p6)
    Dedup.cachedRel(s, dir, "embPairs04") { d5Compute(s, dir) }

  private def d5Compute(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = defaultK(s, dir)
    val e = embeddings(s, dir).withColumn("nrm", norm($"emb"))
    embedNearDupPairsOn(e, coarseCentroids(s, dir, k), 0.4, shipAsFloat = true)
  }

  /** The d5 pair generation over any (vec_id, emb: array<double>, nrm)
    * relation with pre-trained centroids — shared by the catalog d5 and
    * the GraftOps public API. See d5's scaladoc for the lossless
    * angular tile-pruning argument. */
  /** @param shipAsFloat carry the vectors through the tile-join
    *   shuffle as array&lt;float&gt; (HALF the exchange bytes — the
    *   replicated a-side dominates this plan's I/O). Only sound when
    *   the doubles are float-sourced (the embeddings table is), so the
    *   down-cast is exact recovery and [[graft.functions.DotProduct]]'s
    *   widening dot is bit-identical to the double path. */
  private[graft] def embedNearDupPairsOn(e: DataFrame,
      cents: Array[Array[Double]], threshold: Double,
      shipAsFloat: Boolean = false): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val k = cents.length
    // Spread the corpus BEFORE assignment: it usually arrives in a
    // handful of scan partitions (one small parquet file = ONE task),
    // and everything downstream — the k-centroid assignment pass here
    // and the broadcast-shaped tile joins below, which preserve their
    // input's partitioning — would inherit that parallelism and run
    // on one core. One corpus-sized round-robin shuffle buys a
    // cluster-wide assignment + probe (measured 256 s → tens of
    // seconds at sf1 before the other fixes). Conditional: the catalog
    // path already arrives spread by embeddings(), so don't pay the
    // same corpus shuffle twice.
    val np = s.sessionState.conf.numShufflePartitions
    val spread = if (e.rdd.getNumPartitions < np) e.repartition(np) else e
    val assigned = spread
      .withColumn("cell", element_at(graft.functions.Quantizer.topCells($"emb", cents, 1), 1))
      .withColumn("theta", acos(greatest(lit(-1.0), least(lit(1.0),
        element_at(graft.functions.Quantizer.cellCosines($"emb", $"nrm", cents), $"cell" + 1)))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Cell radii + populations: 2k scalars (metadata-sized collect,
    // like table stats). Populations size the per-cell block split.
    val radii = new Array[Double](k)
    val cellRows = new Array[Long](k)
    assigned.groupBy($"cell").agg(max($"theta").as("r"), count(lit(1)).as("n"))
      .collect().foreach { row =>
        radii(row.getAs[Int]("cell")) = row.getAs[Double]("r")
        cellRows(row.getAs[Int]("cell")) = row.getAs[Long]("n")
      }
    val thetaMax = math.acos(threshold)
    def centAngle(i: Int, j: Int): Double = {
      val d = cents(i).zip(cents(j)).map { case (a, b) => a * b }.sum
      math.acos(math.max(-1.0, math.min(1.0, d)))
    }
    // Unordered tiles (i ≤ j): each cross-cell pair (x∈i, y∈j) shows up
    // exactly once and is oriented by id at emit time; only the
    // diagonal tiles need the id-order filter to drop mirror duplicates.
    // Half the candidate work of the ordered i×j enumeration.
    val admissible = for {
      i <- 0 until k; j <- i until k
      if math.max(0.0, centAngle(i, j) - radii(i) - radii(j)) <= thetaMax
    } yield (i, j)
    // Bound the packed rows: a cell packs as ONE row only while cells
    // stay small, and cell population grows linearly with the corpus
    // once the k cap binds (past ~16M vectors at k=4096 a cell is
    // >4096 vectors — hundreds of MB per row at 1B+, straggler-prone
    // and eventually over the 2 GiB array ceiling). Sub-split each
    // cell into ceil(n_cell / maxBlockRows) hash-assigned blocks (so
    // per-row size and per-task work stay bounded in expectation) and
    // enumerate (cell, blockA ≤ blockB) tiles — every cross pair still
    // appears exactly once (blocks partition the cell), the angular
    // prune is untouched, results are bit-identical. The tile list is
    // candidateVolume/maxBlockRows² rows of 4 ints — always metadata-
    // sized relative to the work it schedules.
    val maxBlockRows = s.conf.getOption("spark.graft.ann.maxBlockRows")
      .map(_.toInt).getOrElse(4096)
    require(maxBlockRows >= 1,
      s"spark.graft.ann.maxBlockRows must be >= 1, got $maxBlockRows")
    val nBlocks: Array[Int] = cellRows.map(n =>
      math.max(1, math.ceil(n.toDouble / maxBlockRows).toInt))
    val blockTiles = admissible.flatMap { case (i, j) =>
      if (i == j) for { bi <- 0 until nBlocks(i); bj <- bi until nBlocks(i) }
        yield (i, bi, j, bj)
      else for { bi <- 0 until nBlocks(i); bj <- 0 until nBlocks(j) }
        yield (i, bi, j, bj)
    }
    val cellPairs = blockTiles.toDF("cell_a", "block_a", "cell_b", "block_b")
    // Pack each (cell, block) into ONE flat block (ids / norms /
    // row-major vector data, vec_id order so packing is deterministic).
    // The tile join then moves block rows instead of n vector rows, and
    // the scoring loop runs over primitive arrays — measured ~10× over
    // the row-per-vector join at sf1, whose per-candidate cost was join
    // machinery (a ~1 KB joined-row copy + a join-condition that
    // re-evaluated the dot per reference), not flops. Zero-norm
    // vectors are dropped here: NULL cosine = no match, the same
    // contract the row formulation enforced via its `when` guard.
    val shipped =
      if (shipAsFloat) $"emb".cast("array<float>") else $"emb"
    val nBlocksCol = element_at(typedlit(nBlocks.toSeq), $"cell" + 1)
    val blocks = assigned
      .filter($"nrm" =!= 0.0)
      .withColumn("block", pmod(xxhash64($"vec_id"), nBlocksCol).cast("int"))
      .select($"cell", $"block", struct($"vec_id", shipped.as("emb"), $"nrm").as("v"))
      .groupBy($"cell", $"block")
      .agg(sort_array(collect_list($"v")).as("vs"))
      .select($"cell", $"block",
        transform($"vs", v => v("vec_id")).as("ids"),
        transform($"vs", v => v("nrm")).as("nrms"),
        flatten(transform($"vs", v => v("emb"))).as("packed"))
    val a = blocks.select($"cell".as("cell_a"), $"block".as("block_a"),
      $"ids".as("ids_a"), $"nrms".as("nrms_a"), $"packed".as("packed_a"))
    val b = blocks.select($"cell".as("cell_b"), $"block".as("block_b"),
      $"ids".as("ids_b"), $"nrms".as("nrms_b"), $"packed".as("packed_b"))
    // SHUFFLE_HASH on the b side: it also FORBIDS broadcasting it —
    // the packed corpus can look broadcastable at test scale, and a
    // 100 TB corpus is not. The exchanged left side is the a-blocks
    // replicated per admissible partner tile (the inherent n·k/2 data
    // movement of any tile join), which a sort-merge join would sort.
    val tiles = broadcast(cellPairs).join(a, Seq("cell_a", "block_a"))
      .join(b.hint("shuffle_hash"), Seq("cell_b", "block_b"))
      .select(($"cell_a" === $"cell_b" && $"block_a" === $"block_b").as("same"),
        $"ids_a", $"nrms_a", $"packed_a",
        $"ids_b", $"nrms_b", $"packed_b")
    // Kernel admits cos ≥ threshold − 6e-5 (a superset: HALF_UP
    // 4-decimal rounding can lift a cosine by at most 5e-5 across the
    // threshold); the exact published predicate — Spark's own
    // round(·,4) ≥ threshold — re-filters the tiny survivor set below,
    // so results are bit-identical to the row formulation. The isnan
    // guard survives for NaN-poisoned input vectors: Spark orders NaN
    // ABOVE every value, so an unguarded NaN cosine would pass the
    // threshold and collapse unrelated vectors downstream.
    // The mirror-dedup id filter fires on same-BLOCK (a block self-
    // joined with itself is the only tile where a pair can appear with
    // both orientations); two distinct blocks of the same cell are
    // disjoint vector sets, so their cross pairs appear exactly once.
    val scored =
      if (shipAsFloat)
        tiles.as[(Boolean, Array[Long], Array[Double], Array[Float],
            Array[Long], Array[Double], Array[Float])]
          .flatMap { case (same, ia, na, pa, ib, nb, pb) =>
            scoreTile(same, ia, na, widen(pa), ib, nb, widen(pb), threshold) }
      else
        tiles.as[(Boolean, Array[Long], Array[Double], Array[Double],
            Array[Long], Array[Double], Array[Double])]
          .flatMap { case (same, ia, na, pa, ib, nb, pb) =>
            scoreTile(same, ia, na, pa, ib, nb, pb, threshold) }
    val pairs = scored.toDF("vec_a", "vec_b", "raw")
      .select($"vec_a", $"vec_b", round($"raw", 4).as("cosine"))
      .filter($"cosine" >= threshold && !isnan($"cosine"))
      .orderBy($"vec_a", $"vec_b")
    // materialize the (tiny) pair list while `assigned` is cached, then
    // free it: both call paths want the pairs materialized immediately
    // (the catalog session-caches them; GraftOps feeds them straight
    // into the component loop), and returning a lazy plan would leak
    // one corpus-sized persisted relation per call — the caller holds
    // no reference to unpersist. Checkpoint blocks are released by the
    // context cleaner when the result is dropped.
    val out = pairs.localCheckpoint()
    assigned.unpersist(false)
    out
  }

  /** Exact float→double widening copy (every float is exactly
    * representable), done once per tile AFTER the exchange — the wire
    * carried half the bytes, the kernel still sums doubles in index
    * order, bit-identical to the double path. */
  private def widen(fs: Array[Float]): Array[Double] = {
    val out = new Array[Double](fs.length)
    var i = 0
    while (i < fs.length) { out(i) = fs(i).toDouble; i += 1 }
    out
  }

  /** Score one admissible block tile: all cross pairs for distinct
    * blocks (ids oriented at emit — cosine is exactly symmetric, an
    * index-order sum of identical products), id-ordered pairs when a
    * block is tiled against itself (`same`). Tight row-major loop over
    * the packed block, summed left-to-right in index order — the exact
    * summation the DuckDB oracle uses. */
  private[graft] def scoreTile(
      same: Boolean,
      idsA: Array[Long], nrmsA: Array[Double], packA: Array[Double],
      idsB: Array[Long], nrmsB: Array[Double], packB: Array[Double],
      threshold: Double): Iterator[(Long, Long, Double)] = {
    val nA = idsA.length
    val nB = idsB.length
    if (nA == 0 || nB == 0) return Iterator.empty
    val dim = packA.length / nA
    val tLow = threshold - 6e-5
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var i = 0
    while (i < nA) {
      val ia = idsA(i)
      val na = nrmsA(i)
      val ao = i * dim
      var j = 0
      while (j < nB) {
        val ib = idsB(j)
        if (!same || ia < ib) {
          var acc = 0.0
          var d = 0
          val bo = j * dim
          while (d < dim) { acc += packA(ao + d) * packB(bo + d); d += 1 }
          val cos = acc / (na * nrmsB(j))
          if (cos >= tLow && !java.lang.Double.isNaN(cos))
            out += ((math.min(ia, ib), math.max(ia, ib), cos))
        }
        j += 1
      }
      i += 1
    }
    out.iterator
  }

  val d5_sql: String = {
    val cos = s"list_dot_product(a.emb, b.emb)/(a.nrm * b.nrm)"
    s"""WITH e AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm
       |           FROM $EmbSql ee)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       | ROUND($cos, 4) AS cosine
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE ROUND($cos, 4) >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** s1: exact brute-force cosine top-5 neighbors for the first 20
    * vectors — the ANN recall baseline. Top-k is a partial aggregate
    * ([[graft.functions.TopKAgg]]): each partition reduces its slice of
    * the corpus to a k-sized heap map-side, and the exchange carries
    * only queries × partitions × k buffer rows — NOT the window-rank
    * shape, which would shuffle all n × q scored rows to q reducers
    * (2×10¹⁰ rows through 20 reducers at 1 B vectors). */
  val s1_ann_brute: Relational.Q = (s, dir) => {
    import s.implicits._
    val e = embeddings(s, dir)
    val q = e.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"emb".as("q_emb"))
    val cos = cosine($"q_emb", $"emb")
    broadcast(q).join(e, $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"), cos.as("cosine"))
      .groupBy($"q_id")
      .agg(graft.functions.TopKAgg.topk($"neighbor_id", $"cosine", 5).as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", $"col.neighbor_id".as("neighbor_id"),
        round($"col.cosine", 4).as("cosine"), ($"pos" + 1).cast("int").as("rank"))
      .orderBy($"q_id", $"rank")
  }

  val s1_sql: String =
    s"""SELECT q_id, neighbor_id, ROUND(cosine, 4) AS cosine, rank FROM (
       |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |   ${cosSql("q.emb", "e.emb")} AS cosine,
       |   ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |     ORDER BY ${cosSql("q.emb", "e.emb")} DESC, e.vec_id) AS rank
       |  FROM $EmbSql q JOIN $EmbSql e ON e.vec_id <> q.vec_id
       |  WHERE q.vec_id < 20) t
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Random-hyperplane sign-bit bucket (6 bits). Plane coefficients are
    * seeded constants baked into the plan as literals. */
  private val Planes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(6)(Seq.fill(64)(rnd.nextGaussian()))
  }

  def lshBucket(emb: Column): Column =
    Planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (plane, j)) =>
      val d = dot(emb, typedLit(plane))
      acc.bitwiseOR(shiftleft(when(d >= 0, 1L).otherwise(0L), j))
    }

  /** s2: LSH-bucketed approximate top-3 — scores only same-bucket
    * candidates. Rows-only driver check; recall vs s1 is asserted in
    * SimilaritySpec. */
  val s2_ann_lsh: Relational.Q = (s, dir) => {
    import s.implicits._
    val e = embeddings(s, dir).withColumn("bucket", lshBucket($"emb"))
    val q = e.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"emb".as("q_emb"), $"bucket")
    val cos = cosine($"q_emb", $"emb")
    broadcast(q).join(e, Seq("bucket"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"), cos.as("cosine"))
      .groupBy($"q_id")
      .agg(graft.functions.TopKAgg.topk($"neighbor_id", $"cosine", 3).as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", $"col.neighbor_id".as("neighbor_id"),
        round($"col.cosine", 4).as("cosine"), ($"pos" + 1).cast("int").as("rank"))
      .orderBy($"q_id", $"rank")
  }

  /** s3: IVF approximate top-3 with a TRAINED coarse quantizer
    * (seeded spherical k-means, [[graft.functions.Quantizer]]).
    * Centroids are literals baked into the plan, so cell assignment is
    * a scan-side codegen'd projection — no count(), no crossJoin, no
    * per-vector window. Database vectors are multi-assigned to their
    * top-m=3 cells (FAISS-style spilled assignment: 3× index size for a
    * large recall gain on weakly clustered data); queries probe their
    * nprobe=4 nearest cells. Scored candidates shrink from n to
    * ~n·m·nprobe/k — the standard memory/recall trade at corpus scale.
    * Rows-only driver check; recall@3 ≥ 0.8 vs s1 asserted in spec. */
  val s3_ann_ivf: Relational.Q = (s, dir) => {
    import s.implicits._
    val k = 16; val m = 3; val nprobe = 4
    val e = embeddings(s, dir).withColumn("nrm", norm($"emb"))
    val cents = coarseCentroids(s, dir, k)
    val assigned = e
      .withColumn("cell", explode(graft.functions.Quantizer.topCells($"emb", cents, m)))
      .select($"vec_id", $"emb", $"nrm", $"cell")
    val queriesDf = e.filter($"vec_id" < 20)
      .withColumn("cell", explode(graft.functions.Quantizer.topCells($"emb", cents, nprobe)))
      .select($"vec_id".as("q_id"), $"emb".as("q_emb"), $"nrm".as("q_nrm"), $"cell")
    val cos = dot($"q_emb", $"emb") / ($"q_nrm" * $"nrm")
    // the m×nprobe cell overlap re-scores duplicate pairs with the same
    // deterministic double — TopKAgg rejects them in-heap, so no
    // distinct() shuffle is needed before the cut
    broadcast(queriesDf).join(assigned, Seq("cell"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"), cos.as("cosine"))
      .groupBy($"q_id")
      .agg(graft.functions.TopKAgg.topk($"neighbor_id", $"cosine", 3).as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", $"col.neighbor_id".as("neighbor_id"),
        round($"col.cosine", 4).as("cosine"), ($"pos" + 1).cast("int").as("rank"))
      .orderBy($"q_id", $"rank")
  }

  /** s4: graph-based ANN — one HNSW index per corpus shard
    * ([[graft.functions.Hnsw]], the published Malkov-Yashunin
    * algorithm), built inside mapPartitions (the justified use: index
    * construction needs per-partition imperative state and the graph
    * never leaves its executor). Queries are a bounded broadcast set;
    * every shard answers top-k from its index and a global window merge
    * keeps the overall top-k. The 100 TB shape: shards build in
    * parallel at ingest speed, queries fan out shard-local and return
    * k-sized answers — no shuffle ever carries corpus vectors. Highest-
    * recall ANN tier (graph beam search beats LSH/IVF at equal probe
    * cost on clustered data); recall vs s1 asserted in spec. */
  val s4_ann_hnsw: Relational.Q = (s, dir) => {
    import s.implicits._
    val shards = s.conf.getOption("spark.graft.ann.shards").map(_.toInt).getOrElse(8)
    val e = embeddings(s, dir)
    // query side: bounded set by construction (the ANN request), small
    // enough to ride the task closure like any broadcast dim
    val qRows = e.filter($"vec_id" < 20).as[(Long, Array[Double])].collect()
    val qB = s.sparkContext.broadcast(qRows)
    val hits = e.as[(Long, Array[Double])]
      .repartition(shards, $"vec_id")
      .sortWithinPartitions($"vec_id") // deterministic insertion order
      .mapPartitions { it =>
        val part = it.toArray
        if (part.isEmpty) Iterator.empty
        else {
          val dim = part.head._2.length
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val idx = new graft.functions.Hnsw(dim, m = 8,
            efConstruction = 64, seed = 42L + pid)
          part.foreach { case (id, v) => idx.insert(id, v) }
          qB.value.iterator.flatMap { case (qid, qv) =>
            idx.search(qv, k = 3, ef = 48, excludeId = qid)
              .map { case (nid, sim) => (qid, nid, sim) }
          }
        }
      }.toDF("q_id", "neighbor_id", "cosine")
    hits
      .groupBy($"q_id")
      .agg(graft.functions.TopKAgg.topk($"neighbor_id", $"cosine", 3).as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", $"col.neighbor_id".as("neighbor_id"),
        round($"col.cosine", 4).as("cosine"), ($"pos" + 1).cast("int").as("rank"))
      .orderBy($"q_id", $"rank")
  }

  /** s5: IVF-PQ — the memory-bounded ANN tier ([[graft.functions.Pq]],
    * Jégou et al. 2011). The index side carries (vec_id, cell, codes):
    * 16 sub-codes ≈ 16 bytes per vector instead of a 256-byte float
    * vector, so at corpus scale the candidate shuffle moves 16× less
    * data and a 1000-executor fleet holds the whole index in memory.
    * Candidates come from the trained IVF cells (same coarse quantizer
    * as s3); they are scored approximately from codes alone (ADC), the
    * top-R=32 per query survive, and only those R rows rejoin the
    * corpus by vec_id for exact re-ranking to top-3 — the standard
    * two-stage PQ search. Rows-only driver check; recall@3 vs s1
    * asserted in spec. */
  val s5_ann_ivfpq: Relational.Q = (s, dir) => {
    import s.implicits._
    val k = 16; val m = 3; val nprobe = 4; val rerankR = 32
    val e = embeddings(s, dir).withColumn("nrm", norm($"emb"))
    val cents = coarseCentroids(s, dir, k)
    val pq = cachedModel(s, dir, "pq16x16") {
      graft.functions.Pq.train(e, "vec_id", "emb", m = 16, k = 16)
    }
    // Index side: cells + codes only — the vector itself is dropped.
    val assigned = e
      .withColumn("cell", explode(graft.functions.Quantizer.topCells($"emb", cents, m)))
      .select($"vec_id", $"cell", graft.functions.Pq.encode($"emb", pq).as("codes"))
    val queriesDf = e.filter($"vec_id" < 20)
      .withColumn("cell", explode(graft.functions.Quantizer.topCells($"emb", cents, nprobe)))
      .select($"vec_id".as("q_id"), $"emb".as("q_emb"), $"nrm".as("q_nrm"), $"cell")
    // The ADC cut is a map-side TopKAgg heap (R per query per
    // partition), so the exchange carries q × partitions × R buffer rows
    // of (neighbor_id, adc) — the query vector is re-attached after the
    // cut from the 20-row broadcast side, so no float array rides the
    // candidate exchange; duplicate pairs from the m×nprobe cell overlap
    // re-score to the same adc double and are rejected in-heap.
    val shortlist = broadcast(queriesDf).join(assigned, Seq("cell"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        graft.functions.Pq.adcCosine($"q_emb", $"q_nrm", $"codes", pq).as("adc"))
      .groupBy($"q_id")
      .agg(graft.functions.TopKAgg.topk($"neighbor_id", $"adc", rerankR).as("top"))
      .select($"q_id", explode($"top").as("col"))
      .select($"q_id", $"col.neighbor_id".as("neighbor_id"))
    // Exact re-rank touches only R rows per query.
    val qVecs = e.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"emb".as("q_emb"), $"nrm".as("q_nrm"))
    val cand = shortlist
      .join(e.select($"vec_id".as("neighbor_id"), $"emb".as("n_emb"), $"nrm".as("n_nrm")),
        Seq("neighbor_id"))
      .join(broadcast(qVecs), Seq("q_id"))
    cand
      .select($"q_id", $"neighbor_id",
        when($"q_nrm" * $"n_nrm" =!= 0.0,
          dot($"q_emb", $"n_emb") / ($"q_nrm" * $"n_nrm")).as("cosine"))
      .groupBy($"q_id")
      .agg(graft.functions.TopKAgg.topk($"neighbor_id", $"cosine", 3).as("top"))
      .select($"q_id", posexplode($"top"))
      .select($"q_id", $"col.neighbor_id".as("neighbor_id"),
        round($"col.cosine", 4).as("cosine"), ($"pos" + 1).cast("int").as("rank"))
      .orderBy($"q_id", $"rank")
  }

  /** s6: k-NN SELF-join — approximate top-5 cosine neighbors for EVERY
    * corpus vector (not a bounded query set). This is the corpus-scale
    * primitive behind SemDeDup-style embedding dedup, corpus clustering
    * and diversity sampling: the output is n×k edges over the whole
    * table.
    *
    * Shape: both sides of the candidate join are the full corpus, so
    * nothing broadcasts — vectors are IVF-assigned (same trained coarse
    * quantizer as s3/s5) with data-side m=3 spill and query-side
    * nprobe=4 probes, and the join is equi on cell: shuffle keys are
    * cells, candidate volume ~n·m·nprobe/k per vector. Each vector's
    * top-k is a [[graft.functions.TopKAgg]] partial heap (map-side cut,
    * exchange carries n×k rows, duplicates from overlapping probes
    * rejected inside the heap — no dropDuplicates pass). k cells must
    * grow ~√n at corpus scale (config spark.graft.ann.k) so per-cell
    * tiles stay bounded. Rows-only driver check; recall@5 vs exact
    * brute force asserted in SimilaritySpec. */
  val s6_knn_join: Relational.Q = (s, dir) => {
    import s.implicits._
    val k = defaultK(s, dir)
    val m = 3; val nprobe = 4; val topk = 5
    val e = embeddings(s, dir).withColumn("nrm", norm($"emb"))
    val cents = coarseCentroids(s, dir, k)
    val data = e
      .withColumn("cell", explode(graft.functions.Quantizer.topCells($"emb", cents, m)))
      .select($"vec_id".as("neighbor_id"), $"emb".as("n_emb"), $"nrm".as("n_nrm"), $"cell")
    val probes = e
      .withColumn("cell", explode(graft.functions.Quantizer.topCells($"emb", cents, nprobe)))
      .select($"vec_id", $"emb", $"nrm", $"cell")
    val cos = dot($"emb", $"n_emb") / ($"nrm" * $"n_nrm")
    probes.join(data, Seq("cell"))
      .filter($"neighbor_id" =!= $"vec_id")
      .select($"vec_id", $"neighbor_id", cos.as("cosine"))
      .groupBy($"vec_id")
      .agg(graft.functions.TopKAgg.topk($"neighbor_id", $"cosine", topk).as("top"))
      .select($"vec_id", posexplode($"top"))
      .select($"vec_id", $"col.neighbor_id".as("neighbor_id"),
        round($"col.cosine", 4).as("cosine"), ($"pos" + 1).cast("int").as("rank"))
      .orderBy($"vec_id", $"rank")
  }

  /** d8: SemDeDup (Abbas et al. 2023) — semantic dedup over the
    * embedding space: connected components of the cosine ≥ 0.45
    * near-dup graph (the corpus-specific "semantic duplicate" band for
    * this synthetic set), keep one representative (minimum vec_id) per
    * component. Composes d5's exact IVF-tiled pair generation with the
    * same hash-min component pass d7 uses. The component map is
    * size-gated, not force-broadcast: on a dup-heavy corpus (web crawls
    * run 30–50% near-duplicates) it is O(corpus), and a forced hint
    * would OOM executors exactly when dedup matters most — below the
    * gate the corpus side streams through a broadcast left join, above
    * it the join degrades to a doc_id shuffle (AQE can still promote it
    * from runtime sizes). Output: every vector with its cluster rep
    * (itself when unclustered) and the keep decision. */
  val d8_semdedup: Relational.Q = (s, dir) => {
    import s.implicits._
    val pairs = d5_embed_neardup(s, dir)
      .filter($"cosine" >= 0.45)
      .select($"vec_a", $"vec_b")
    val comp = Dedup.connectedComponents(s, pairs)
      .select(col("v").as("vec_id"), col("label").as("rep"))
    embeddings(s, dir).select($"vec_id")
      .join(Tables.broadcastIfSmall(comp), Seq("vec_id"), "left")
      .select($"vec_id",
        coalesce($"rep", $"vec_id").as("cluster_rep"),
        (coalesce($"rep", $"vec_id") === $"vec_id").as("kept"))
      .orderBy($"vec_id")
  }

  val d8_sql: String =
    s"""WITH RECURSIVE
       |p AS (SELECT vec_a, vec_b FROM (${d5_sql.replace("ORDER BY vec_a, vec_b", "")}) dp
       |      WHERE cosine >= 0.45),
       |edges AS (SELECT vec_a AS a, vec_b AS b FROM p
       |          UNION SELECT vec_b, vec_a FROM p),
       |reach(v, r) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT reach.v, e.b FROM reach JOIN edges e ON e.a = reach.r),
       |comp AS (SELECT v AS vec_id, MIN(r) AS rep FROM reach GROUP BY v)
       |SELECT e.vec_id AS vec_id, COALESCE(c.rep, e.vec_id) AS cluster_rep,
       | COALESCE(c.rep, e.vec_id) = e.vec_id AS kept
       |FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.vec_id
       |ORDER BY e.vec_id""".stripMargin

  val queries: Map[String, Relational.Q] = Map(
    "d8_semdedup" -> d8_semdedup,
    "s5_ann_ivfpq" -> s5_ann_ivfpq,
    "s6_knn_join" -> s6_knn_join,
    "d5_embed_neardup" -> d5_embed_neardup,
    "s1_ann_brute" -> s1_ann_brute,
    "s2_ann_lsh" -> s2_ann_lsh,
    "s3_ann_ivf" -> s3_ann_ivf,
    "s4_ann_hnsw" -> s4_ann_hnsw,
  )

  val oracles: Map[String, String] = Map(
    "d8_semdedup" -> d8_sql,
    "d5_embed_neardup" -> d5_sql,
    "s1_ann_brute" -> s1_sql,
  )
}
