package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize
import graft.functions.VectorFunctions._

/**
 * Approximate-nearest-neighbor search over an `array<double>` embedding
 * column (north-star extension; absent from the reference).
 *
 * - [[bruteForceTopK]]: the exact baseline — broadcast the (small) query
 *   set against the corpus; one scan, no corpus shuffle, top-k via a
 *   per-query window. Exact and embarrassingly parallel: at 100 TB this
 *   is a single broadcast-join stage.
 * - [[ivfTopK]]: the scale path — IVF-style coarse quantization: assign
 *   every vector to its nearest centroid (broadcast centroids), then
 *   search only within the query's cell. Probed fraction = 1/nCells;
 *   trade recall for cost by probing more cells upstream.
 *
 * All cosine evaluations precompute each side's L2 norm in the projection
 * BELOW the pair join ([[normCols]]), so the per-pair work is one dot
 * product — the norm is per-row, not per-pair. The arithmetic (`dot /
 * (sqrt · sqrt)`, [[VectorFunctions.cosineWithNorms]]) is unchanged,
 * keeping results bit-identical to the naive form and to the DuckDB
 * oracle's fold. A zero vector has a null cosine with everything, so it
 * is never ranked, thresholded in, or assigned a cell.
 */
object Similarity {

  /** The vector as `__<side>v` and its L2 norm as `__<side>n`: the
    * per-row norm projection below every pair join here. */
  private[operators] def normCols(vecCol: String, side: String): Seq[Column] =
    Seq(col(vecCol).as(s"__${side}v"), l2Norm(col(vecCol)).as(s"__${side}n"))

  /** Cosine of the two [[normCols]] sides `a` and `b`. */
  private[operators] def cosineOf(a: String, b: String): Column =
    cosineWithNorms(col(s"__${a}v"), col(s"__${a}n"), col(s"__${b}v"), col(s"__${b}n"))

  /** Row number within each `key` group in `order`. */
  private def numbered(key: String, order: Column*): Column =
    row_number().over(Window.partitionBy(col(key)).orderBy(order: _*))

  /** The `k` best rows of each `key` group by (`sim` desc, `tie` asc),
    * ranked from 1 in `rankCol`. A null `sim` is never ranked. */
  private def topKPerKey(scored: DataFrame, key: String, tie: String, k: Int,
                         rankCol: String = "rank"): DataFrame =
    scored.withColumn(rankCol, numbered(key, col("sim").desc, col(tie)).cast("long"))
      .filter(col(rankCol) <= k && col("sim").isNotNull)

  /** Each query's exact cosine top `k` among its candidate rows, which
    * carry the `q` and `c` [[normCols]] sides. */
  private def queryTopK(candidates: DataFrame, k: Int): DataFrame =
    topKPerKey(candidates.withColumn("sim", cosineOf("q", "c")), "query_id", "neighbor_id", k)

  /** Cosine of every (a_id, b_id) pair of `pairs`: each side's vector
    * and norm attach by an id-keyed join BELOW the cosine, one dot per
    * pair. Output: a_id, b_id, sim. */
  private[operators] def scorePairs(pairs: DataFrame, embs: DataFrame,
                                    vecCol: String, idCol: String): DataFrame = {
    val a = embs.select(col(idCol).as("a_id") +: normCols(vecCol, "a"): _*)
    val b = embs.select(col(idCol).as("b_id") +: normCols(vecCol, "b"): _*)
    pairs.join(a, Seq("a_id")).join(b, Seq("b_id"))
      .select(col("a_id"), col("b_id"), cosineOf("a", "b").as("sim"))
  }

  /** Each scored undirected edge ranked from both endpoints: the top `k`
    * neighbors per `src` by (sim desc, nbr asc). Symmetrized by EXPLODING
    * each edge into its two directions — NOT by unioning `scored` with
    * its own swap: a self-union duplicates the whole join+dot subtree in
    * the physical plan (both branches re-run the two vector joins and
    * every dot product — seen in the l35 plan as two identical
    * BroadcastHashJoin chains under one Union). The explode evaluates the
    * joins and the cosine ONCE per undirected pair; rows are identical.
    * Output: src, nbr, sim, rnk. */
  private def symmetricTopK(scored: DataFrame, k: Int): DataFrame = {
    val sym = scored.select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("nbr"), col("sim")),
        struct(col("b_id").as("src"), col("a_id").as("nbr"), col("sim")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.nbr").as("nbr"), col("__e.sim").as("sim"))
    topKPerKey(sym, "src", "nbr", k, "rnk")
  }

  /** Exact cosine top-k of `corpus` for each row of `queries`.
    * Output: query_id, neighbor_id, sim, rank (self-match excluded). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id") +: normCols(vecCol, "q"): _*)
    val c = corpus.select(col(idCol).as("neighbor_id") +: normCols(vecCol, "c"): _*)
    queryTopK(c.join(broadcast(q), col("query_id") =!= col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Assign each vector to its nearest centroid (by cosine, ties to the
    * lowest centroid id). Centroids are broadcast — the corpus never
    * shuffles for assignment. Output: corpus columns + `cell`. */
  def assignCells(corpus: DataFrame, centroids: DataFrame,
                  vecCol: String, idCol: String, centroidIdCol: String): DataFrame =
    probeCells(corpus, centroids, vecCol, idCol, centroidIdCol, 1)

  /**
   * K-means-lite centroid training for the IVF index: deterministic
   * seeding (the k lowest-id vectors), then up to `iters` rounds of
   * assign-to-nearest (broadcast centroids — corpus never shuffles) and
   * per-cell mean. The mean is computed by `posexplode` + one
   * partial-aggregating groupBy on (cell, pos) + re-assembly — the plan
   * width is constant in the embedding dimension, so dim-1024+ vectors
   * never hit Janino generated-code limits (the per-dimension-column form
   * did). Each round is materialized ([[graft.Materialize]], k rows)
   * so lineage doesn't grow across rounds and no cache outlives the call.
   *
   * Robustness (both deterministic, so the fixed-iteration oracle stays
   * exact):
   *  - EMPTY CELLS are reseeded each round from the lowest-id corpus
   *    vectors NOT already serving as a live centroid vector (one per
   *    empty cell, in cell-id order) — a centroid that loses a tie for
   *    every vector (e.g. a duplicate seed, where ties go to the lowest
   *    cell id) comes back as a genuinely distinct live cell, not the
   *    same duplicate that emptied it. Only when the corpus holds fewer
   *    distinct vectors than k does the fallback reuse lowest-id
   *    vectors verbatim: k output rows are always guaranteed, k USEFUL
   *    cells only when the corpus can supply them.
   *  - CONVERGENCE stop: a round whose centroids are all EXACTLY
   *    unchanged ends training early. Exact equality (not a tolerance)
   *    keeps early-stopped output bit-identical to running all `iters`
   *    rounds — a converged round is a no-op — so declared queries need
   *    no oracle change.
   * Both checks act on the k-row centroid frame only (a k-row driver
   * collect / count — deliberate, same class as the 1-row Bloom build;
   * the corpus-sized work per round is unchanged).
   *
   * Output: (cell, centroid vector) with `vecCol`'s name, ready for
   * [[ivfTopK]].
   */
  def trainCentroids(corpus: DataFrame, vecCol: String, idCol: String,
                     k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    var cents = Materialize(corpus.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("cell"), col(vecCol)), "Similarity.trainCentroids")
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val assigned = assignCells(corpus, cents, vecCol, idCol, "cell")
      // element-wise mean per cell: one narrow (cell, pos, v) explosion,
      // sum+count partial-agg map-side, re-assemble in pos order (the
      // struct sort key is __pos, collect_list order is irrelevant)
      var next = Materialize(assigned
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("__pos", "__v")))
        .groupBy(col("cell"), col("__pos"))
        .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("__pos"), (col("__s") / col("__n")).as("__m")))),
          x => x.getField("__m")).as(vecCol)), "Similarity.trainCentroids")
      val empty = cents.select(col("cell")).exceptAll(next.select(col("cell")))
        .orderBy(col("cell")).collect()
      if (empty.nonEmpty) {
        // reseed from vectors DISTINCT from every live centroid (broadcast
        // k-row anti join on vector equality): reseeding with a vector
        // that is already a centroid would recreate the dead cell —
        // exactly the duplicate-seed case that emptied it
        val fresh = corpus
          .join(broadcast(next.select(col(vecCol).as("__cv"))),
            col(vecCol) === col("__cv"), "left_anti")
          .orderBy(col(idCol)).limit(empty.length)
          .select(col(vecCol)).collect()
        // corpus with < k distinct vectors: top up with lowest-id vectors
        // verbatim — k output rows guaranteed, dead duplicates unavoidable
        val reseeds =
          if (fresh.length >= empty.length) fresh
          else fresh ++ corpus.orderBy(col(idCol))
            .limit(empty.length - fresh.length).select(col(vecCol)).collect()
        val rows = empty.zip(reseeds).map { case (c, v) =>
          org.apache.spark.sql.Row(c.get(0), v.get(0)) }
        next = Materialize(next.unionByName(spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq, 1), next.schema)),
          "Similarity.trainCentroids")
      }
      // exact-equality convergence on the two k-row frames (null-safe so
      // a missing cell — impossible after reseeding — would count as moved)
      converged = cents.as("a").join(next.as("b"), Seq("cell"), "full_outer")
        .filter(!(col(s"a.$vecCol") <=> col(s"b.$vecCol"))).isEmpty
      cents = next
      it += 1
    }
    cents
  }

  /** IVF top-k: search only the query's `nprobe` nearest cells (corpus
    * vectors live in exactly one cell each). Probed fraction =
    * nprobe/nCells — recall is bought linearly with probe cost, the
    * standard IVF knob. Output: query_id, neighbor_id, sim, rank. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              vecCol: String, idCol: String, centroidIdCol: String, k: Int,
              nprobe: Int = 1): DataFrame = {
    val assigned = assignCells(corpus, centroids, vecCol, idCol, centroidIdCol)
    val qVecs = corpus.join(queries.select(col(idCol)), Seq(idCol), "left_semi")
    val q = probeCells(qVecs, centroids, vecCol, idCol, centroidIdCol, nprobe)
      .select(Seq(col("cell"), col(idCol).as("query_id")) ++ normCols(vecCol, "q"): _*)
    val c = assigned.select(Seq(col("cell"), col(idCol).as("neighbor_id")) ++
      normCols(vecCol, "c"): _*)
    // queries << corpus by contract: broadcast the probe rows so the
    // corpus side is scanned in place (never sorted or re-shuffled for
    // the cell join) — same shape as bruteForceTopK
    queryTopK(broadcast(q).join(c, Seq("cell")).filter(col("query_id") =!= col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Int8 scalar-quantized approximate top-k with exact re-rank — the
    * compressed-scan ANN pattern: quantize every component to
    * round(x·127/m) where m = max |component| over the corpus (symmetric
    * global scale, one tiny aggregate, broadcast — never a driver
    * collect), rank candidates by the integer quantized dot product,
    * then re-rank the top `rerank` survivors with the exact float
    * cosine. At 100 TB the quantized corpus is 4× smaller than float32
    * (8× vs this repo's array<double>) and the approx pass is
    * integer-only; the exact vectors are touched for `rerank` rows per
    * query, not the whole corpus.
    *
    * Determinism: quantized components are exact small integers (|q| ≤
    * 127), so the approx dot (≤ 127²·dim) is exactly representable in a
    * double — the fold is bit-stable across engines and the integer
    * tie-break (`neighbor_id`) total-orders both ranking passes.
    * Output: query_id, neighbor_id, approx (long), sim, rank. */
  def int8TopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
               idCol: String, k: Int, rerank: Int): DataFrame = {
    val scale = corpus.agg(max(array_max(transform(col(vecCol), x => abs(x)))).as("__m"))
    def quantized(v: Column): Column =
      transform(v, x => floor(x * lit(127.0) / col("__m") + lit(0.5)).cast("double"))
    val q = queries.crossJoin(broadcast(scale))
      .select((col(idCol).as("query_id") +: normCols(vecCol, "q")) :+
        quantized(col(vecCol)).as("__qq"): _*)
    val c = corpus.crossJoin(broadcast(scale))
      .select((col(idCol).as("neighbor_id") +: normCols(vecCol, "c")) :+
        quantized(col(vecCol)).as("__cq"): _*)
    val candidates = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("approx", dot(col("__qq"), col("__cq")).cast("long"))
      .withColumn("__ar", numbered("query_id", col("approx").desc, col("neighbor_id")))
      .filter(col("__ar") <= rerank)
    queryTopK(candidates, k)
      .select("query_id", "neighbor_id", "approx", "sim", "rank")
  }

  // ------------------------------------------------- product quantization

  /** Array column `arr` split into its `m` subvectors of `dim`/`m`
    * components, exploded as `e`: one (subspace `s`, subvector `sv`)
    * struct per row. */
  private def subvectorRows(arr: String, m: Int, dim: Int): Column = {
    val dsub = dim / m
    require(m > 0 && dsub * m == dim, s"m=$m must divide dim=$dim")
    explode(expr(s"transform(sequence(0, ${m - 1}), " +
      s"s -> struct(s AS s, slice($arr, s * $dsub + 1, $dsub) AS sv))")).as("e")
  }

  /** Per-row subvector explosion shared by the PQ paths: (idCol as
    * `__id`, subspace `s`, subvector `sv` of `dim`/`m` components). */
  private def pqSubvectors(df: DataFrame, vecCol: String, idCol: String,
                           m: Int, dim: Int): DataFrame =
    df.select(col(idCol).as("__id"), subvectorRows(vecCol, m, dim))
      .select(col("__id"), col("e.s").as("s"), col("e.sv").as("sv"))

  /** Squared L2 distance between two equal-length double arrays, as a
    * left-to-right fold (engine-portable like [[VectorFunctions.dot]]). */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /**
   * Train product-quantization codebooks (Jégou, Douze & Schmid,
   * "Product quantization for nearest neighbor search", TPAMI 2011):
   * split each vector into `m` subvectors of dim/m components and run
   * k-means with `ksub` centroids PER SUBSPACE — all m subspaces train
   * in ONE driver loop (the subspace id is just another grouping key),
   * so the per-iteration cost is one broadcast-join assignment pass
   * plus one map-side-combined mean agg, exactly [[trainCentroids]]'s
   * shape with (s, j) keys instead of j. Deterministic: seeds are the
   * `ksub` lowest-id vectors' subvectors, assignment ties break to the
   * lowest code, iterations are fixed, and a code that wins no vectors
   * carries its centroid forward unchanged (never silently shrinking
   * the codebook). The corpus-side subvector table is checkpointed
   * once and reused every round.
   *
   * Output: (s, j, sv) — `m`·`ksub` rows, the broadcastable codebook.
   */
  def trainPqCodebooks(corpus: DataFrame, vecCol: String, idCol: String,
                       m: Int, ksub: Int, dim: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    val subs = Materialize(pqSubvectors(corpus, vecCol, idCol, m, dim),
      "Similarity.trainPqCodebooks")
    // seed codes j = 0..ksub-1 from the ksub lowest-id vectors (a
    // ksub-row driver collect, the trainCentroids class)
    val seedRows = corpus.orderBy(col(idCol)).limit(ksub)
      .select(col(idCol)).collect()
    val idType = corpus.schema(corpus.schema.fieldIndex(idCol)).dataType
    val seedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        seedRows.zipWithIndex.map { case (r, j) =>
          org.apache.spark.sql.Row(r.get(0), j)
        }.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__sid", idType),
        org.apache.spark.sql.types.StructField("j", org.apache.spark.sql.types.IntegerType))))
    var books = Materialize(subs.join(broadcast(seedDf), col("__id") === col("__sid"))
      .select(col("s"), col("j"), col("sv")), "Similarity.trainPqCodebooks")
    for (_ <- 1 to iters) {
      val assigned = subs
        .join(broadcast(books.select(col("s"), col("j").as("__j"), col("sv").as("__cv"))),
          Seq("s"))
        .withColumn("__d", sqDist(col("sv"), col("__cv")))
        .groupBy(col("__id"), col("s"))
        .agg(min(struct(col("__d"), col("__j"), col("sv"))).as("mn"))
        .select(col("s"), col("mn.__j").as("j"), col("mn.sv").as("sv"))
      val next = assigned
        .select(col("s"), col("j"), posexplode(col("sv")).as(Seq("__p", "__v")))
        .groupBy(col("s"), col("j"), col("__p"))
        .agg(sum(col("__v")).as("__sum"), count(lit(1)).as("__n"))
        .groupBy(col("s"), col("j"))
        .agg(transform(
          array_sort(collect_list(struct(col("__p"), (col("__sum") / col("__n")).as("__mv")))),
          x => x.getField("__mv")).as("sv"))
      // codes that won nothing keep their old centroid (deterministic,
      // codebook never shrinks)
      val dead = books.join(next.select("s", "j"), Seq("s", "j"), "left_anti")
      books = Materialize(next.unionByName(dead), "Similarity.trainPqCodebooks")
    }
    books
  }

  /** PQ-encode the corpus: per vector, `codes[s]` = the code of the
    * nearest (squared-L2, ties to the lowest code) subspace centroid.
    * One broadcast join + one min-struct agg + one per-id reassembly —
    * the corpus never shuffles on anything but its own id. At 100 TB
    * the m uint8 codes are a 32–64× compression of float32 vectors:
    * the whole encoded corpus scans from memory-speed storage while
    * full vectors are touched only for re-rank survivors.
    * Output: (idCol, codes array<int>). */
  def pqEncode(corpus: DataFrame, vecCol: String, idCol: String,
               books: DataFrame, m: Int, dim: Int): DataFrame =
    pqSubvectors(corpus, vecCol, idCol, m, dim)
      .join(broadcast(books.select(col("s"), col("j").as("__j"), col("sv").as("__cv"))),
        Seq("s"))
      .withColumn("__d", sqDist(col("sv"), col("__cv")))
      .groupBy(col("__id"), col("s"))
      .agg(min(struct(col("__d"), col("__j"))).as("mn"))
      .groupBy(col("__id"))
      .agg(transform(
        array_sort(collect_list(struct(col("s"), col("mn.__j").as("j")))),
        x => x.getField("j")).as("codes"))
      .withColumnRenamed("__id", idCol)

  /**
   * PQ top-k by asymmetric distance computation (ADC) + exact re-rank:
   * each query precomputes an m×ksub table of squared distances from
   * its subvectors to every codebook centroid (tiny, broadcast), the
   * encoded corpus is scored by m TABLE LOOKUPS per row — sum of
   * dt[s][codes[s]], no vector arithmetic on the scan side — and the
   * `rerank` closest candidates per query re-rank with the exact float
   * cosine ([[int8TopK]]'s discipline: approximate pass to prune,
   * exact pass to answer; ties total-order by neighbor id in both
   * passes). Queries must be few (the broadcast side); the corpus side
   * is one scan of the codes table.
   * Output: query_id, neighbor_id, adist (double), sim, rank.
   */
  def pqTopK(queries: DataFrame, corpus: DataFrame, books: DataFrame,
             vecCol: String, idCol: String, m: Int, dim: Int,
             k: Int, rerank: Int): DataFrame = {
    val codes = pqEncode(corpus, vecCol, idCol, books, m, dim)
    val dt = pqSubvectors(queries, vecCol, idCol, m, dim)
      .join(broadcast(books.select(col("s"), col("j"), col("sv").as("__cv"))), Seq("s"))
      .select(col("__id").as("query_id"), col("s"), col("j"),
        sqDist(col("sv"), col("__cv")).as("__dt"))
    adcRerank(codes, dt, Nil, queries, corpus, vecCol, idCol, k, rerank)
  }

  // ------------------------------------------------- IVFADC (IVF × PQ)

  /** Corpus rows with their coarse cell and the RESIDUAL vector
    * (vector − cell centroid) — the quantity IVFADC PQ-encodes (Jégou,
    * Douze & Schmid, TPAMI 2011 §IV: residuals carry far less variance
    * than raw vectors once the coarse quantizer has removed the
    * between-cell component, so the same codebook budget quantizes them
    * more accurately). Cell assignment is [[assignCells]]' cosine rule
    * (ties to the lowest cell id); centroids broadcast twice (assign +
    * centroid re-attach) — the corpus never shuffles.
    * Output: idCol, cell, `residCol`. */
  def cellResiduals(corpus: DataFrame, centroids: DataFrame, vecCol: String,
                    idCol: String, centroidIdCol: String,
                    residCol: String = "__resid"): DataFrame =
    assignCells(corpus, centroids, vecCol, idCol, centroidIdCol)
      .join(broadcast(centroids.select(col(centroidIdCol).as("cell"),
        col(vecCol).as("__ctr"))), Seq("cell"))
      .select(col(idCol), col("cell"),
        zip_with(col(vecCol), col("__ctr"), (x, y) => x - y).as(residCol))

  /** Build the IVFADC inverted index: PQ-encode each corpus vector's
    * residual against `books` (a codebook trained ON residuals —
    * compose [[cellResiduals]] + [[trainPqCodebooks]] for the trained
    * path). Same plan shape as [[pqEncode]] with `cell` riding the
    * grouping keys — one broadcast codebook join, two map-side-combined
    * aggs, the corpus shuffles only on its own id.
    *
    * Output: (idCol, cell, codes array<int>). AT REST, partition or
    * bucket this table BY CELL: a query probing `nprobe` of `ncells`
    * cells then reads exactly that fraction of the codes from storage
    * (the [[ivfadcTopK]] cell semi-join becomes partition pruning). */
  def ivfadcEncode(corpus: DataFrame, centroids: DataFrame, books: DataFrame,
                   vecCol: String, idCol: String, centroidIdCol: String,
                   m: Int, dim: Int): DataFrame =
    cellResiduals(corpus, centroids, vecCol, idCol, centroidIdCol)
      .select(col(idCol).as("__id"), col("cell"), subvectorRows("__resid", m, dim))
      .select(col("__id"), col("cell"), col("e.s").as("s"), col("e.sv").as("sv"))
      .join(broadcast(books.select(col("s"), col("j").as("__j"), col("sv").as("__cv"))),
        Seq("s"))
      .withColumn("__d", sqDist(col("sv"), col("__cv")))
      .groupBy(col("__id"), col("cell"), col("s"))
      .agg(min(struct(col("__d"), col("__j"))).as("mn"))
      .groupBy(col("__id"), col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("s"), col("mn.__j").as("j")))),
        x => x.getField("j")).as("codes"))
      .withColumnRenamed("__id", idCol)

  /**
   * IVFADC top-k — the FAISS-layout composition of the coarse IVF
   * quantizer with PQ residual codes (Jégou et al. TPAMI 2011 §IV),
   * the honest 100 TB ANN: [[pqTopK]] ADC-scans the WHOLE encoded
   * corpus per query batch; here each query coarse-probes its `nprobe`
   * nearest cells, builds a PER-(query, cell) m×ksub lookup table of
   * squared distances from the query's residual IN THAT CELL to the
   * residual codebook, and scores only the probed cells' codes — a
   * (cell, s, j) broadcast-lookup join, table sums on the scan side,
   * no vector arithmetic. Scanned-code volume is nprobe/ncells of the
   * corpus (exactly, when the codes table is partitioned by cell; the
   * cell semi-join below carries the prune to any layout). The
   * `rerank` closest candidates per query re-rank with the exact float
   * cosine ([[int8TopK]]'s discipline; ties total-order by neighbor id
   * in both passes). Queries must be few (the broadcast side).
   * Output: query_id, neighbor_id, adist (double), sim, rank.
   */
  def ivfadcTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                 books: DataFrame, vecCol: String, idCol: String,
                 centroidIdCol: String, m: Int, dim: Int,
                 k: Int, nprobe: Int, rerank: Int): DataFrame = {
    val codes = ivfadcEncode(corpus, centroids, books, vecCol, idCol,
      centroidIdCol, m, dim)
    val dt = ivfadcQueryTables(queries, centroids, books, vecCol, idCol,
      centroidIdCol, m, dim, nprobe)
    // scan ONLY the probed cells' codes: the cell semi-join is the
    // in-memory prune (nprobe/ncells of the corpus); against a
    // persisted index use [[ivfadcTopKIndexed]], where the same prune
    // is a STATIC partition filter the parquet scan skips files by
    val pruned = codes
      .join(broadcast(dt.select(col("cell")).distinct()), Seq("cell"), "left_semi")
    adcRerank(pruned, dt, Seq("cell"), queries, corpus, vecCol, idCol, k, rerank)
  }

  /** Persist the IVFADC inverted index PARTITIONED BY CELL — the
    * at-rest layout of a 100 TB deployment: each coarse cell's codes
    * live in their own directory, so probing `nprobe` of `ncells`
    * cells reads exactly that fraction of the (already 32-64x
    * compressed) index bytes via ordinary parquet partition pruning —
    * no scan of unprobed cells ever starts. */
  def writeIvfadcIndex(corpus: DataFrame, centroids: DataFrame, books: DataFrame,
                       vecCol: String, idCol: String, centroidIdCol: String,
                       m: Int, dim: Int, path: String): Unit =
    ivfadcEncode(corpus, centroids, books, vecCol, idCol, centroidIdCol, m, dim)
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** [[ivfadcTopK]] against a PERSISTED index ([[writeIvfadcIndex]]):
    * the probed cell ids are collected (<= |queries|*nprobe values —
    * the few-queries contract makes this the k-row driver-collect
    * class) and pushed as a STATIC `IN` filter on the partition
    * column, so the parquet scan plans with a partition filter and
    * reads only the probed cells' files — the storage-level prune the
    * in-memory semi-join can only simulate (spec-pinned: the scan's
    * PartitionFilters carry the cells, results row-identical to
    * [[ivfadcTopK]]). */
  def ivfadcTopKIndexed(queries: DataFrame, indexPath: String, corpus: DataFrame,
                        centroids: DataFrame, books: DataFrame, vecCol: String,
                        idCol: String, centroidIdCol: String, m: Int, dim: Int,
                        k: Int, nprobe: Int, rerank: Int): DataFrame = {
    val dt = ivfadcQueryTables(queries, centroids, books, vecCol, idCol,
      centroidIdCol, m, dim, nprobe)
    val cells = dt.select(col("cell")).distinct().collect().map(_.get(0))
    val pruned = corpus.sparkSession.read.parquet(indexPath)
      .filter(col("cell").isin(cells: _*))
    adcRerank(pruned, dt, Seq("cell"), queries, corpus, vecCol, idCol, k, rerank)
  }

  /** Query side of IVFADC: nprobe cells per query, the query's
    * residual AGAINST EACH probed cell's centroid (the ADC table is
    * per (query, cell)), expanded into the m x ksub table of squared
    * distances to the residual codebook. */
  private def ivfadcQueryTables(queries: DataFrame, centroids: DataFrame,
                                books: DataFrame, vecCol: String, idCol: String,
                                centroidIdCol: String, m: Int, dim: Int,
                                nprobe: Int): DataFrame =
    probeCells(queries, centroids, vecCol, idCol, centroidIdCol, nprobe)
      .join(broadcast(centroids.select(col(centroidIdCol).as("cell"),
        col(vecCol).as("__ctr"))), Seq("cell"))
      .select(col(idCol).as("query_id"), col("cell"),
        zip_with(col(vecCol), col("__ctr"), (x, y) => x - y).as("__qr"))
      .select(col("query_id"), col("cell"), subvectorRows("__qr", m, dim))
      .select(col("query_id"), col("cell"), col("e.s").as("s"), col("e.sv").as("sv"))
      .join(broadcast(books.select(col("s"), col("j"), col("sv").as("__cv"))), Seq("s"))
      .select(col("query_id"), col("cell"), col("s"), col("j"),
        sqDist(col("sv"), col("__cv")).as("__dt"))

  /** The ADC scan and exact re-rank shared by [[pqTopK]] and IVFADC:
    * the codes explode to (`cellKeys`, s, j) rows, the lookup join
    * against the broadcast table `dt` scores them by table sums, and the
    * `rerank` closest candidates per query re-rank with the exact float
    * cosine. `cellKeys` is empty for PQ and `cell` for IVFADC, whose
    * `codes` frame is already pruned to the probed cells. */
  private def adcRerank(codes: DataFrame, dt: DataFrame, cellKeys: Seq[String],
                        queries: DataFrame, corpus: DataFrame,
                        vecCol: String, idCol: String,
                        k: Int, rerank: Int): DataFrame = {
    val exploded = codes.select((col(idCol).as("neighbor_id") +: cellKeys.map(col)) :+
      posexplode(col("codes")).as(Seq("s", "j")): _*)
    val qv = queries.select(col(idCol).as("query_id") +: normCols(vecCol, "q"): _*)
    val cv = corpus.select(col(idCol).as("neighbor_id") +: normCols(vecCol, "c"): _*)
    val candidates = exploded.join(broadcast(dt), cellKeys ++ Seq("s", "j"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__dt")).as("adist"))
      .withColumn("__ar", numbered("query_id", col("adist"), col("neighbor_id")))
      .filter(col("__ar") <= rerank)
      .join(broadcast(qv), Seq("query_id"))
      .join(cv.hint("shuffle_hash"), Seq("neighbor_id"))
    queryTopK(candidates, k)
      .select("query_id", "neighbor_id", "adist", "sim", "rank")
  }

  /** Approximate kNN GRAPH over the whole corpus — every vector's top-k
    * cosine neighbors among its random-hyperplane LSH candidates
    * ([[Dedup.rhpCandidatePairs]]): the all-pairs precursor to
    * SemDedup-style semantic dedup and graph clustering. The pair space
    * is bounded by bucket collisions (never all-pairs); candidate pairs
    * symmetrize (each edge ranks from both endpoints), vectors and norms
    * attach via two id-keyed joins BELOW the ranking window, one dot per
    * pair. Nodes whose buckets collide with nothing emit no rows —
    * approximate by construction, like every LSH method here; raise
    * nTables for recall. Buckets above [[Dedup.DefaultRhpMaxBucket]]
    * drop unless the caller opts out — the linear-output guard rail for
    * corpora that skip exact-dedup-before-ANN (see the constant's doc).
    * Output: src, nbr, sim, rnk (1 = nearest). */
  def knnGraphRhp(embs: DataFrame, vecCol: String, idCol: String, dim: Int,
                  k: Int, nPlanes: Int = 8, nTables: Int = 4,
                  maxBucketSize: Int = Dedup.DefaultRhpMaxBucket): DataFrame = {
    val pairs = Dedup.rhpCandidatePairs(embs, vecCol, idCol, dim, nPlanes, nTables,
      maxBucketSize)
    // Score each UNDIRECTED pair once, symmetrize the scored edges after:
    // half the vector joins and dot products of the symmetrize-first
    // form, bit-identical sim (element products commute, fold order is
    // the same), so each edge still ranks from both endpoints.
    symmetricTopK(scorePairs(pairs, embs, vecCol, idCol), k)
      .select("src", "nbr", "sim", "rnk")
  }

  /**
   * NN-DESCENT refinement of an approximate kNN graph (Dong et al.,
   * WWW 2011, "Efficient k-nearest neighbor graph construction for
   * generic similarity measures") — the standard graph-ANN build step
   * after a blocking pass like [[knnGraphRhp]]: a vector's true
   * neighbors are usually neighbors OF its current neighbors, so each
   * round scores the co-neighbor pairs of every pivot (neighbors AND
   * reverse neighbors — the undirected closed neighborhood) and keeps
   * each node's top-k over old ∪ new edges. RHP blocking misses pairs
   * whose buckets never collide; one or two descent rounds recover most
   * of that recall without any new hashing (spec-measured on fixtures).
   *
   * Determinism and the oracle: rounds are FIXED (no convergence test —
   * the count would be a per-round job and the l110/l116 oracle unrolls
   * the same rounds as CTEs), every undirected pair scores ONCE with
   * the same cosine expression as the initial graph (bit-identical
   * across engines — element products commute, fold order is fixed),
   * ranks break ties (sim desc, nbr asc).
   *
   * Scale shape per round: one distinct on the adjacency, one
   * self-equi-join on the pivot (the candidate generator — bounded by
   * `maxDegree`, which caps each pivot's closed neighborhood at the
   * deterministic member-ascending prefix: out-degree is ≤ k by
   * construction but REVERSE degree is unbounded on hub-heavy graphs,
   * exactly the join that explodes at 100 TB without the cap), two
   * id-keyed vector joins below the ranking window, one window.
   * Each round is materialized ([[graft.Materialize]]) under the same
   * constraint-propagation guard as every iterative operator here.
   * Output: (src, nbr, sim, rnk), the [[knnGraphRhp]] schema.
   */
  def nnDescent(embs: DataFrame, vecCol: String, idCol: String, k: Int,
                graph0: DataFrame, rounds: Int,
                maxDegree: Int = Int.MaxValue): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    Graph.withoutConstraintPropagation(embs.sparkSession) {
      nnDescentLoop(embs, vecCol, idCol, k, graph0, rounds, maxDegree, hashSample = false)
    }
  }

  /** The SAMPLED variant — Dong et al. WWW'11 §2.3's ρK sampling step:
    * instead of the deterministic member-ascending prefix (which biases
    * the capped neighborhood toward low ids), each pivot's closed
    * neighborhood is capped at `sampleK` members in `xxhash64(node,
    * member)` order — a deterministic, engine-replayable analogue of
    * the paper's uniform sample, unbiased across ids. Everything else
    * (pair scoring, old ∪ new union, ranking) is [[nnDescent]]
    * verbatim, so the two variants agree whenever no pivot's
    * neighborhood exceeds the cap (spec-pinned). This is the probe-safe
    * configuration for dup-heavy corpora: the candidate join is
    * ≤ sampleK² per pivot regardless of hub degree or seed-graph
    * pathology. */
  def nnDescentSampled(embs: DataFrame, vecCol: String, idCol: String, k: Int,
                       graph0: DataFrame, rounds: Int,
                       sampleK: Int): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    require(sampleK >= 1 && sampleK < Int.MaxValue,
      s"sampled variant needs a finite sampleK >= 1, got $sampleK")
    Graph.withoutConstraintPropagation(embs.sparkSession) {
      nnDescentLoop(embs, vecCol, idCol, k, graph0, rounds, sampleK, hashSample = true)
    }
  }

  private def nnDescentLoop(embs: DataFrame, vecCol: String, idCol: String,
                            k: Int, graph0: DataFrame, rounds: Int,
                            maxDegree: Int, hashSample: Boolean): DataFrame = {
    var g = Materialize(graph0.select(col("src"), col("nbr"), col("sim"), col("rnk")),
      "Similarity.nnDescent")
    for (_ <- 1 to rounds) {
      // Undirected closed neighborhood via an EXPLODE of each edge's two
      // directions (g is materialized, but the self-union form still
      // doubled the scan + distinct input; the explode emits both
      // directions from one pass), then ONE hash-partitioned
      // collect_set per pivot. The per-pivot member array is what the
      // cap, the sample, and the co-neighbor pair generation all want:
      //  - member-ascending prefix cap = sort_array + slice (replaces a
      //    full count-window sort),
      //  - xxhash64 sample order = sort_array over (hash, member) structs,
      //  - co-neighbor pairs = in-row unfold of the SORTED array
      //    (a < b by construction) — replaces the adj-on-adj self-equi-
      //    join (two exchanges) with a narrow generator.
      // Memory per row is bounded: the array is clamped to maxDegree
      // members (finite for every declared caller; the Int.MaxValue
      // opt-out keeps whole neighborhoods, the documented hub hazard of
      // the uncapped variant — unchanged semantics, now also unchanged
      // memory posture since collect_set holds what the join's per-key
      // group held).
      val adjSets = g.select(explode(array(
          struct(col("src").as("node"), col("nbr").as("member")),
          struct(col("nbr").as("node"), col("src").as("member")))).as("__d"))
        .select(col("__d.node").as("node"), col("__d.member").as("member"))
        .groupBy(col("node"))
        .agg(collect_set(col("member")).as("__ms"))
      val members =
        if (maxDegree == Int.MaxValue) sort_array(col("__ms"))
        else if (hashSample)
          // deterministic uniform draw: order by (xxhash64(node, m), m),
          // keep sampleK, back to ascending members for the pair unfold
          expr(s"sort_array(transform(slice(sort_array(transform(__ms, " +
            s"m -> struct(xxhash64(node, m) AS h, m AS m))), 1, $maxDegree), " +
            s"s -> s.m))")
        else expr(s"slice(sort_array(__ms), 1, $maxDegree)")
      // co-neighbor candidates (u < w once per pivot, distinct across
      // pivots) ∪ the current edges as undirected pairs. The capped
      // member array explodes back to (node, member) rows and
      // self-joins on the pivot — a generator + equi-join stays in
      // whole-stage codegen, where an in-row HOF pair unfold
      // (flatten∘transform) is CodegenFallback and measured 2× slower
      // end-to-end on l116.
      val adj = adjSets.select(col("node"), explode(members).as("member"))
      val pairs = adj.select(col("node"), col("member").as("a_id"))
        .join(adj.select(col("node"), col("member").as("b_id")), Seq("node"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
        .unionByName(g.select(least(col("src"), col("nbr")).as("a_id"),
          greatest(col("src"), col("nbr")).as("b_id")))
        .distinct()
      g = Materialize(symmetricTopK(scorePairs(pairs, embs, vecCol, idCol), k),
        "Similarity.nnDescent")
    }
    g
  }

  /** SemDedup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-duplicate
    * removal over embeddings. Edges = [[knnGraphRhp]] neighbor relations
    * above `threshold` (undirected — either endpoint ranking the other
    * suffices), groups = connected components over those edges, keep the
    * min-id representative per group. One row per vector: its cluster
    * label (itself when it has no above-threshold neighbor) and whether
    * it survives the dedup. Every stage is an audited operator: the
    * bucket-bounded graph, the O(diameter) label propagation, and one
    * hinted map-back join (the component labels come out of a
    * materialized frame, which strips the stats AQE needs — same reason
    * Dedup.duplicateClusters hints its map-back). */
  def semanticDedup(embs: DataFrame, vecCol: String, idCol: String, dim: Int,
                    threshold: Double, k: Int = 3, nPlanes: Int = 4,
                    nTables: Int = 16,
                    maxBucketSize: Int = Dedup.DefaultRhpMaxBucket): DataFrame = {
    val edges = knnGraphRhp(embs, vecCol, idCol, dim, k, nPlanes, nTables, maxBucketSize)
      .filter(col("sim") > threshold)
      .select(least(col("src"), col("nbr")).as("a_id"),
        greatest(col("src"), col("nbr")).as("b_id"))
      .distinct()
    val labels = Dedup.connectedComponents(edges)
      .select(col("id").as(idCol), col("cluster"))
    embs.select(col(idCol))
      .join(labels.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster"), col(idCol)).as("cluster"))
      .withColumn("kept", col(idCol) === col("cluster"))
  }

  /** The `nprobe` nearest cells per row (by cosine, ties to the lowest
    * cell id) — the query-side generalization of [[assignCells]]. Rows
    * are duplicated once per probed cell. */
  def probeCells(vectors: DataFrame, centroids: DataFrame, vecCol: String,
                 idCol: String, centroidIdCol: String, nprobe: Int): DataFrame = {
    val cents = centroids.select(col(centroidIdCol).as("cell") +: normCols(vecCol, "cent"): _*)
    vectors.withColumn("__vn", l2Norm(col(vecCol)))
      .join(broadcast(cents))
      .withColumn("__csim",
        cosineWithNorms(col(vecCol), col("__vn"), col("__centv"), col("__centn")))
      .withColumn("__rn", numbered(idCol, col("__csim").desc, col("cell")))
      .filter(col("__rn") <= nprobe && col("__csim").isNotNull)
      .drop("__csim", "__rn", "__centv", "__centn", "__vn")
  }

  /**
   * Per-group embedding drift: each group's L2 distance from the CORPUS
   * centroid — "which source/class has shifted away from the rest", the
   * vector-space analogue of [[graft.operators.CorpusStats.sourceDivergence]]'s
   * unigram KL. A crawl source whose drift jumps between snapshots
   * changed its content mix; a fine-tuning slice with high drift is
   * out-of-distribution.
   *
   * Engine-exact arithmetic (l54's discipline, adapted to vectors):
   * coordinates quantize ONCE to exact integers u = floor(x·10⁶)
   * (bit-portable: floor of an identically-widened double), per-(key,
   * dim) sums are exact BIGINTs, each dimension's squared mean gap is
   * rounded to a DECIMAL(30,6) term (single deterministic rounding),
   * the term sum is exact decimal, and one final sqrt/scale/round
   * produces the drift in original units. Quantization error ≤
   * 10⁻⁶·√dim — noise for monitoring. Shuffles: the (key, dim) agg
   * (map-side combined) and a dim-bounded broadcast of the global sums.
   */
  def centroidDrift(df: DataFrame, keyCol: String, vecCol: String): DataFrame = {
    val per = df
      .select(col(keyCol), posexplode(col(vecCol)).as(Seq("__p", "__x")))
      .groupBy(col(keyCol), col("__p"))
      .agg(sum(floor(col("__x").cast("double") * 1000000).cast("long")).as("__s"),
        count(lit(1)).as("__n"))
    val glob = per.groupBy(col("__p"))
      .agg(sum(col("__s")).as("__gs"), sum(col("__n")).as("__gn"))
    val d = col("__s") / col("__n") - col("__gs") / col("__gn")
    per.join(broadcast(glob), Seq("__p"))
      .select(col(keyCol), col("__n"),
        round(d * d, 6).cast("decimal(30,6)").as("__t"))
      .groupBy(col(keyCol))
      .agg(max(col("__n")).as("n"),
        round(sqrt(sum(col("__t")).cast("double")) / 1000000, 6).as("drift"))
  }

  /**
   * Per-group mean vector (class centroid) over an embedding column —
   * the bulk companion to [[trainCentroids]]' k-row driver loop: compute
   * the centroid of EVERY group (label, cluster, source, …) in one
   * distributed pass, no driver collect. The prototype step behind
   * SemDedup-style cluster pruning, nearest-class-mean classification,
   * and per-source embedding drift monitoring.
   *
   * Plan shape: posexplode to (key, pos, x) — the one shuffle carries
   * dim× the rows but partial-aggregates map-side to #keys × dim per
   * partition — then per-(key, pos) sums reassemble into an ordered
   * array via array_sort(collect_list(struct(pos, mean))); the collect
   * is dim-bounded per group. Means are double-precision sums of the
   * (exactly widened) float inputs in shuffle order — fine for a
   * centroid; the l58 declared query instead emits the exact integer
   * sufficient statistic (Σ floor(x·10⁶), n) per (label, pos) so the
   * oracle has no float-fold-order boundary at all.
   */
  def groupCentroids(df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    df.select(col(keyCol), posexplode(col(vecCol)).as(Seq("__p", "__x")))
      .groupBy(col(keyCol), col("__p"))
      .agg(sum(col("__x").cast("double")).as("__s"), count(lit(1)).as("__n"))
      .groupBy(col(keyCol))
      .agg(
        transform(array_sort(collect_list(struct(col("__p"),
          (col("__s") / col("__n")).as("__m")))), s => s("__m")).as("centroid"),
        max(col("__n")).as("n"))
}
