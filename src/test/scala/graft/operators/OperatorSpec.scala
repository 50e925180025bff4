package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.functions.TextFunctions
import graft.functions.VectorFunctions

/** Unit specs for the standalone operators on tiny hand-computed inputs. */
class OperatorSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def ts(s: String) = Timestamp.valueOf(s)

  test("AsOfJoin.lastValueAsOf picks the latest right row at-or-before each left row") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L), // after r2 → matches 12
      (1L, ts("2024-01-01 09:00:00"), 101L), // exactly at r2 → matches 12 (<= semantics)
      (1L, ts("2024-01-01 07:00:00"), 102L), // before all rights → dropped
      (2L, ts("2024-01-01 10:00:00"), 103L)  // other key → matches 20
    ).toDF("user_id", "ts", "event_id")
    val right = Seq(
      (1L, ts("2024-01-01 08:00:00"), 11L),
      (1L, ts("2024-01-01 09:00:00"), 12L),
      (2L, ts("2024-01-01 09:30:00"), 20L)
    ).toDF("user_id", "ts", "event_id")
    val out = AsOfJoin.lastValueAsOf(left, right, "user_id", "ts", "event_id")
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(out == Set((100L, 12L), (101L, 12L), (103L, 20L)))
  }

  test("Dedup.exactProfile groups identical texts; exactKept keeps min id") {
    val docs = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa")).toDF("doc_id", "text")
    val prof = Dedup.exactProfile(docs, "text", "doc_id")
      .select("c", "keep").as[(Long, Long)].collect().toSet
    assert(prof == Set((2L, 1L), (1L, 2L)))
    val kept = Dedup.exactKept(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
  }

  test("Dedup.lineDedup drops later duplicate lines, keeps blanks and order") {
    val docs = Seq(
      (1L, "nav bar\nbody text one\nnav bar\n\nbody text two\n\nnav bar"),
      (2L, ""),                      // empty text survives as-is
      (3L, "\n\n\n"),                // all blanks kept (structure)
      (4L, "only line")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "text", "clean")
      .select("doc_id", "clean").as[(Long, String)].collect().toMap
    assert(out(1L) == "nav bar\nbody text one\n\nbody text two\n")
    assert(out(2L) == "")
    assert(out(3L) == "\n\n\n")
    assert(out(4L) == "only line")
  }

  test("Dedup.lineDedup normalizeKeys dedups case/punct variants, keeps the first ORIGINAL") {
    val docs = Seq(
      (1L, "Cookie Notice!\nreal content here\ncookie notice\nCOOKIE, notice\nmore content")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "text", "clean", normalizeKeys = true)
      .select("clean").as[String].head()
    assert(out == "Cookie Notice!\nreal content here\nmore content")
    // lines whose normalized key is empty (punctuation-only) are
    // structure, never deduped against each other
    val punct = Seq((1L, "***\nreal text\n---\nreal text")).toDF("doc_id", "text")
    val out2 = Dedup.lineDedup(punct, "text", "clean", normalizeKeys = true)
      .select("clean").as[String].head()
    assert(out2 == "***\nreal text\n---")
  }

  test("Dedup.minhashCandidatePairs finds near-identical docs, not disjoint ones") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy dog again and again tonight"
    val c = "completely different words nothing shared with any other document here at all"
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("Dedup.minhashCandidatePairs k=8/bands=4 recall vs exact Jaccard>=0.8 pairs") {
    // Quantifies the flagship l4 dedup parameters on the planted-near-dup
    // corpus (TESTDATA: word-3-gram Jaccard up to 0.99): candidate recall
    // against the exact all-pairs ground truth. Analytically, 4 bands of
    // 2 rows catch a Jaccard-s pair with p = 1-(1-s^2)^4 — 0.983 at
    // s=0.8 — so a 0.9 floor leaves room for signature-sampling variance.
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val sets = docs.select(col("doc_id").as("id"),
      TextFunctions.wordShingles(col("text"), 3).as("sh")).persist()
    val truth = sets.select(col("id").as("a_id"), col("sh").as("__sha"))
      .join(sets.select(col("id").as("b_id"), col("sh").as("__shb")),
        col("a_id") < col("b_id"))
      .withColumn("__i", size(array_intersect(col("__sha"), col("__shb"))).cast("double"))
      .filter(col("__i") / (size(col("__sha")) + size(col("__shb")) - col("__i")) >= 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    sets.unpersist()
    assert(truth.nonEmpty, "testdata should contain planted near-dups at Jaccard >= 0.8")
    val candidates = Dedup.minhashCandidatePairs(docs, "text", "doc_id",
        k = 8, bands = 4, shingleN = 3)
      .as[(Long, Long)].collect().toSet
    val hit = (candidates intersect truth).size
    val recall = hit.toDouble / truth.size
    info(f"MinHash-LSH (k=8, bands=4) candidate recall at Jaccard>=0.8: $hit/${truth.size} = $recall%.3f")
    assert(recall >= 0.9, f"candidate recall $recall%.3f below the 0.9 floor")
  }

  test("Dedup.connectedComponents labels transitive chains with the min id") {
    // components: {1,2,3,4} (chain), {10,11}, {20,21,22} (star on 20)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("Dedup.connectedComponents matches union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // canonicalize: representative = min id of the component
      val expected = nodes.groupBy(find).flatMap { case (_, ids) =>
        val m = ids.min; ids.map(_ -> m)
      }.toMap
      val got = Dedup.connectedComponents(edges.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected)
    }
  }

  test("Dedup.duplicateClusters collapses exact dups before pair generation") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again today"
    val near2 = "the quick brown fox jumps over the lazy dog again and again tonight"
    val other1 = "completely different words shared by exactly these two documents here now"
    val other2 = "completely different words shared by exactly these two documents here soon"
    val lone = "a singleton document resembling nothing else in this tiny corpus whatsoever"
    // 10 exact copies of near1 (the degenerate LSH bucket), a near-dup of
    // it with a SMALLER id, an unrelated near-dup pair, and a singleton
    val docs = ((100 until 110).map(i => (i.toLong, near1)) ++
      Seq((1L, near2), (2L, other1), (3L, other2), (4L, lone))).toDF("doc_id", "text")
    // candidate pairs are generated over exact-dup representatives only:
    // 2 pairs, not the 45 the raw hot bucket would emit
    val repPairs = Dedup.minhashCandidatePairs(
      Dedup.exactKept(docs, "text", "doc_id"), "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(repPairs == Set((1L, 100L), (2L, 3L)))
    // labels map back through the hash groups: every exact copy joins the
    // near-dup's cluster (min reachable id = 1); the singleton is absent
    val clusters = Dedup.duplicateClusters(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    val expected = ((100 until 110).map(_.toLong -> 1L) ++
      Seq(1L -> 1L, 2L -> 2L, 3L -> 2L)).toMap
    assert(clusters == expected)
  }

  test("Dedup.duplicateClusters: exact-only group forms its own cluster") {
    val dup = "three identical documents with no near neighbor anywhere in the corpus"
    val lone = "a singleton document resembling nothing else in this tiny corpus whatsoever"
    val docs = Seq((5L, dup), (6L, dup), (7L, dup), (8L, lone)).toDF("doc_id", "text")
    val clusters = Dedup.duplicateClusters(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("Dedup.ngramJaccard computes exact shingle Jaccard on candidates") {
    val a = "w1 w2 w3 w4 w5" // shingles: {w1 w2 w3, w2 w3 w4, w3 w4 w5}
    val b = "w1 w2 w3 w4 w6" // shingles: {w1 w2 w3, w2 w3 w4, w3 w4 w6} → |∩|=2 |∪|=4
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val j = Dedup.ngramJaccard(docs, "text", "doc_id")
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect()
    // pair may or may not survive LSH banding; if present, value must be exact
    j.foreach { case (ai, bi, jac) => assert((ai, bi) == (1L, 2L) && jac == 0.5) }
  }

  test("Dedup.dedupCorpus drops exact and near duplicates, keeps min ids") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again today"
    val near2 = "the quick brown fox jumps over the lazy dog again and again tonight"
    val other = "completely different words nothing shared with any other document here at all"
    val docs = Seq((1L, near1), (2L, near2), (3L, other), (4L, near1))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(docs, "text", "doc_id", jaccardThreshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // 4 is an exact dup of 1; 2 is a near dup of 1; 3 survives
    assert(kept == Set(1L, 3L))
  }

  test("Dedup.similarityJoinExact equals brute force on random near-dup corpora") {
    for (seed <- Seq(5, 6)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
      def doc() = Seq.fill(8 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      // half the corpus is mutated copies of earlier docs → plenty of
      // pairs above and below the threshold
      val base = (1L to 15L).map(i => (i, doc()))
      val mutated = base.take(8).map { case (i, t) =>
        val w = t.split(" "); w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
        (i + 100L, w.mkString(" "))
      }
      val docs = (base ++ mutated).toDF("doc_id", "text")
      val got = Dedup.similarityJoinExact(docs, "text", "doc_id", tau = 0.4)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      // brute force: all pairs via full shingle-set intersection
      val sets = docs.select(col("doc_id"),
          graft.functions.TextFunctions.wordShingles(col("text"), 3).as("sh"))
        .as[(Long, Seq[String])].collect().map { case (i, s) => (i, s.toSet) }
      val brute = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        i = (sa & sb).size
        if sa.nonEmpty && sb.nonEmpty &&
          i.toDouble / (sa.size + sb.size - i) >= 0.4
      } yield (a, b)).toSet
      assert(got == brute,
        s"seed=$seed missing=${brute -- got} extra=${got -- brute}")
      assert(brute.nonEmpty, s"seed=$seed fixture produced no pairs")
    }
  }

  test("Similarity.trainCentroids converges to the two cluster centers") {
    // even ids on the x-axis, odd ids on the y-axis, so the deterministic
    // seeding (k lowest ids) starts with one vector from each cluster
    val cluster0 = (0 until 10).map(i => (i * 2L, Array(1.0 + i * 0.001, 0.0)))
    val cluster1 = (0 until 10).map(i => (i * 2L + 1, Array(0.0, 1.0 + i * 0.001)))
    val corpus = (cluster0 ++ cluster1).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(corpus, "embedding", "vec_id", k = 2, iters = 3)
      .select("embedding").as[Array[Double]].collect()
    assert(cents.length == 2)
    // one centroid per axis-aligned cluster
    assert(cents.exists(c => c(0) > 0.9 && c(1) == 0.0))
    assert(cents.exists(c => c(1) > 0.9 && c(0) == 0.0))
  }

  test("Similarity.groupCentroids: per-label means, ordered dims, l58 statistic parity") {
    val embs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Similarity.groupCentroids(embs, "label", "embedding")
      .collect().map(r => (r.getInt(0),
        (r.getSeq[Double](1).toArray, r.getLong(2)))).toMap
    // driver-side reference: plain per-(label, pos) means of the raw rows
    val raw = embs.select(col("label"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val ref = raw.groupBy(_._1).map { case (l, vs) =>
      val dim = vs.head._2.length
      l -> ((0 until dim).map(p => vs.map(_._2(p)).sum / vs.length).toArray,
        vs.length.toLong)
    }
    assert(got.keySet == ref.keySet)
    for ((l, (cent, n)) <- got) {
      assert(n == ref(l)._2, s"label $l n")
      val diff = cent.zip(ref(l)._1).map { case (a, b) => math.abs(a - b) }.max
      assert(diff < 1e-9, s"label $l max dim diff $diff") // fold-order only
    }
    // and the l58 exact statistic recovers the same means to 1e-6:
    // mean ≈ (Σ floor(x·10⁶)) / (n·10⁶), off by at most the floor's 1e-6
    val stats = embs
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum(floor(col("x") * 1000000).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    for (((l, p), (s, n)) <- stats) {
      val approx = s.toDouble / (n * 1e6)
      assert(math.abs(approx - got(l)._1(p)) <= 1e-6 + 1e-9,
        s"label $l pos $p: stat $approx vs centroid ${got(l)._1(p)}")
    }
  }

  test("Similarity.centroidDrift: zero for a lone group, exact on a closed form") {
    // one group == the corpus → drift exactly 0
    val lone = Seq((0, Array(0.25, 0.5)), (0, Array(0.75, 0.5)))
      .toDF("label", "embedding")
    val z = Similarity.centroidDrift(lone, "label", "embedding")
      .select("drift").as[Double].head()
    assert(z == 0.0)
    // two symmetric groups around the corpus mean: centroids (0.2, 0.4)
    // and (0.6, 0.8); corpus centroid (0.4, 0.6); each drift =
    // sqrt(0.2^2 + 0.2^2) = 0.2·sqrt(2) ≈ 0.282843
    val sym = Seq(
      (0, Array(0.1, 0.3)), (0, Array(0.3, 0.5)),
      (1, Array(0.5, 0.7)), (1, Array(0.7, 0.9)))
      .toDF("label", "embedding")
    val got = Similarity.centroidDrift(sym, "label", "embedding")
      .orderBy("label").select("label", "n", "drift")
      .as[(Int, Long, Double)].collect().toSeq
    assert(got.map(_._2) == Seq(2L, 2L))
    val exp = 0.2 * math.sqrt(2)
    got.foreach { case (l, _, dr) =>
      assert(math.abs(dr - exp) < 1e-5, s"label $l drift $dr vs $exp")
    }
  }

  test("Similarity.trainCentroids reseeds an engineered empty cell and stays k-wide") {
    // seeds 1 and 2 are IDENTICAL vectors: every assignment tie goes to
    // the lowest cell id, so cell 2 gets zero members — without repair
    // the index silently shrinks to k-1 cells
    val corpus = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0)), (3L, Array(0.0, 1.0)),
      (4L, Array(0.9, 0.1)), (5L, Array(0.1, 0.9)), (6L, Array(0.8, 0.2)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(corpus, "embedding", "vec_id", k = 3, iters = 2)
    val cells = cents.select("cell").as[Long].collect().sorted
    assert(cells.length == 3 && cells.distinct.length == 3, s"cells $cells")
    assert(cells.contains(2L), s"empty cell 2 was not reseeded: $cells")
    // deterministic: the same call twice is value-identical
    val again = Similarity.trainCentroids(corpus, "embedding", "vec_id", k = 3, iters = 2)
    val a = cents.orderBy("cell").as[(Long, Array[Double])].collect().map(r => (r._1, r._2.toSeq))
    val b = again.orderBy("cell").as[(Long, Array[Double])].collect().map(r => (r._1, r._2.toSeq))
    assert(a.sameElements(b), s"nondeterministic: $a vs $b")
  }

  test("Similarity.trainCentroids reseeds with a vector distinct from every live centroid") {
    // ids 1,2 are IDENTICAL: cell 2 empties after round 1, and the
    // round-1 means leave (1,0) as cell 1's exact centroid — a reseed
    // from "lowest id" would re-pick that duplicate and the cell would
    // stay functionally dead. The repaired reseed must pick the lowest-id
    // vector NOT already serving as a live centroid.
    val corpus = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0)),
      (3L, Array(0.0, 1.0)), (4L, Array(0.6, 0.8)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(corpus, "embedding", "vec_id", k = 3, iters = 3)
      .orderBy("cell").as[(Long, Array[Double])].collect()
    assert(cents.map(_._1).toSeq == Seq(1L, 2L, 3L), s"cells ${cents.map(_._1).toSeq}")
    val vecs = cents.map(_._2.toSeq)
    assert(vecs.distinct.length == 3, s"dead duplicate centroid among $vecs")
  }

  test("Similarity.trainCentroids converged rounds are no-ops (early stop is value-identical)") {
    // two tight clusters converge after one mean round; 2 vs 10 iters
    // must produce the same centroids — the convergence stop just skips
    // the no-op rounds
    val corpus = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)),
      (3L, Array(1.0, 0.02)), (4L, Array(0.02, 1.0)))
      .toDF("vec_id", "embedding")
    val short = Similarity.trainCentroids(corpus, "embedding", "vec_id", 2, 2)
      .orderBy("cell").as[(Long, Array[Double])].collect().map(r => (r._1, r._2.toSeq))
    val long = Similarity.trainCentroids(corpus, "embedding", "vec_id", 2, 10)
      .orderBy("cell").as[(Long, Array[Double])].collect().map(r => (r._1, r._2.toSeq))
    assert(short.sameElements(long), s"$short vs $long")
  }

  test("Dedup.substringDedup excises a repeated run that straddles passage boundaries") {
    // a 24-token run sits at offset 10 in doc 1 and offset 3 in doc 2 —
    // no fixed 20-word cut of doc 2 equals any cut of doc 1, so
    // passageDedup misses it; substringDedup must excise exactly the run
    // from doc 2 (later doc) and leave doc 1 intact.
    val run = (0 until 24).map(i => s"run$i")
    val d1 = (0 until 10).map(i => s"a$i") ++ run ++ (0 until 10).map(i => s"b$i")
    val d2 = (0 until 3).map(i => s"c$i") ++ run ++ (0 until 7).map(i => s"d$i")
    val docs = Seq((1L, d1.mkString(" ")), (2L, d2.mkString(" "))).toDF("doc_id", "text")

    val out = Dedup.substringDedup(docs, "text", "doc_id", 20)
      .as[(Long, String, Long)].collect()
      .map { case (id, t, n) => id -> (t, n) }.toMap
    assert(out(1L) == (d1.mkString(" "), 44L), out(1L))
    val expected2 = ((0 until 3).map(i => s"c$i") ++ (0 until 7).map(i => s"d$i")).mkString(" ")
    assert(out(2L) == (expected2, 10L), out(2L))

    // contrast: the fixed-cut approximation keeps doc 2 whole — this
    // straddling span is exactly the gap substringDedup closes
    val passage = Dedup.passageDedup(docs, "text", "doc_id", 20)
      .filter(col("doc_id") === 2L).select("n_kept").as[Long].head()
    assert(passage == 2L) // both of doc 2's passages survive the cut-level check
  }

  test("Similarity.ivfTopK over trainCentroids centroids reaches 0.9 recall on clustered data") {
    // the l42 path end-to-end: deterministic training (lowest-id seeds,
    // 2 rounds) then nprobe=1 search. Three well-separated clusters —
    // the regime IVF is for; queries and their true neighbors share a
    // cell, so recall vs brute force must be ≈ 1 (floor 0.9).
    val vecs = for (c <- 0 until 3; i <- 0 until 20) yield {
      val base = Array.fill(8)(0.0)
      base(c * 2) = 10.0
      base(c * 2 + 1) = 5.0
      // deterministic per-vector jitter, far smaller than the separation
      (c * 20L + i, base.zipWithIndex.map { case (v, d) => v + ((i * 7 + d * 3) % 5) * 0.01 })
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id").isin(0L, 1L, 20L, 21L, 40L))
    val cents = Similarity.trainCentroids(corpus, "embedding", "vec_id", k = 3, iters = 2)
    val ivf = Similarity.ivfTopK(queries, corpus, cents, "embedding", "vec_id", "cell", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(queries, corpus, "embedding", "vec_id", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall (ivf ${ivf.size}, brute ${brute.size})")
  }

  test("Dedup.minhashCandidatePairs maxBucketSize drops degenerate buckets only") {
    // 12 near-identical docs (one hot bucket) + 2 distinct near-dups
    val hot = (0 until 12).map(i => (100L + i,
      "the quick brown fox jumps over the lazy dog again and again today"))
    val pair = Seq(
      (1L, "completely different words shared by exactly these two documents here now"),
      (2L, "completely different words shared by exactly these two documents here soon"))
    val docs = (hot ++ pair).toDF("doc_id", "text")
    val unlimited = Dedup.minhashCandidatePairs(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashCandidatePairs(docs, "text", "doc_id", maxBucketSize = 4)
      .as[(Long, Long)].collect().toSet
    // the hot cluster's 66 pairs vanish; smaller buckets are untouched
    assert(unlimited.count(p => p._1 >= 100) == 66)
    assert(capped.count(p => p._1 >= 100) == 0)
    assert(capped.filter(p => p._1 < 100) == unlimited.filter(p => p._1 < 100))
  }

  test("Similarity.trainCentroids handles dim-256 vectors (plan width constant in dim)") {
    // two well-separated clusters in R^256; the posexplode form keeps the
    // aggregate 3 columns wide regardless of dim (the per-dimension-column
    // form hit Janino generated-code limits past a few hundred dims)
    val dim = 256
    val c0 = (0 until 8).map(i => (i * 2L, Array.tabulate(dim)(d => if (d < 128) 1.0 + i * 0.001 else 0.0)))
    val c1 = (0 until 8).map(i => (i * 2L + 1, Array.tabulate(dim)(d => if (d >= 128) 1.0 + i * 0.001 else 0.0)))
    val corpus = (c0 ++ c1).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(corpus, "embedding", "vec_id", k = 2, iters = 2)
      .select("embedding").as[Array[Double]].collect()
    assert(cents.length == 2)
    assert(cents.forall(_.length == dim))
    assert(cents.exists(c => c(0) > 0.9 && c(200) == 0.0))
    assert(cents.exists(c => c(200) > 0.9 && c(0) == 0.0))
  }

  test("Similarity.ivfTopK: nprobe widens the search and recall never drops") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 5)
    val cents = e.filter(col("vec_id") < 8)
    val truth = Similarity.bruteForceTopK(queries, e, "embedding", "vec_id", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(nprobe: Int): Double = {
      val got = Similarity.ivfTopK(queries, e, cents, "embedding", "vec_id", "vec_id", 5, nprobe)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (got intersect truth).size.toDouble / truth.size
    }
    val r1 = recall(1); val r3 = recall(3)
    info(f"IVF recall@5: nprobe=1 $r1%.2f, nprobe=3 $r3%.2f")
    assert(r3 >= r1)
    assert(r3 > 0.3, s"nprobe=3 recall unexpectedly low: $r3")
  }

  test("Similarity.knnGraphRhp 4x16 edge recall vs exact top-3 neighbors") {
    // the corpus is isotropic (max cos ~0.47) — sign-LSH's worst case, so
    // this floor is conservative for clustered real-world embeddings;
    // l18's near-dup 8x4 blocking measures 0.07 here, hence the wider
    // 4-plane x 16-table parameters for the GRAPH use case
    val e = graft.sources.Tables.embeddings(spark, sf)
    val truth = Similarity.bruteForceTopK(e, e, "embedding", "vec_id", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.knnGraphRhp(e, "embedding", "vec_id", 64, 3,
        nPlanes = 4, nTables = 16)
      .select("src", "nbr").as[(Long, Long)].collect().toSet
    val recall = (got intersect truth).size.toDouble / truth.size
    info(f"kNN-graph (4 planes x 16 tables) edge recall@3: $recall%.3f")
    assert(recall >= 0.85, f"edge recall $recall%.3f below the 0.85 floor")
  }

  test("Similarity.nnDescent lifts kNN-graph recall monotonically; top-k semantics hold") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val truth = Similarity.bruteForceTopK(e, e, "embedding", "vec_id", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(g: org.apache.spark.sql.DataFrame): Double =
      (g.select("src", "nbr").as[(Long, Long)].collect().toSet intersect truth)
        .size.toDouble / truth.size
    // deliberately WEAK blocking (6 planes x 2 tables — small buckets,
    // few tables) so descent has real recall to recover
    val g0 = Similarity.knnGraphRhp(e, "embedding", "vec_id", 64, 3,
      nPlanes = 6, nTables = 2)
    val r0 = recall(g0)
    val g1 = Similarity.nnDescent(e, "embedding", "vec_id", 3, g0,
      rounds = 1, maxDegree = 16)
    val r1 = recall(g1)
    val g2 = Similarity.nnDescent(e, "embedding", "vec_id", 3, g0,
      rounds = 2, maxDegree = 16)
    val r2 = recall(g2)
    info(f"recall@3: blocked $r0%.3f -> 1 round $r1%.3f -> 2 rounds $r2%.3f")
    // old edges stay in the candidate pool, so recall is monotone
    assert(r1 >= r0 && r2 >= r1, f"descent must never lose recall: $r0 $r1 $r2")
    assert(r1 > r0, "one descent round recovered nothing — candidate generation broken")
    // per-node contract: ranks are 1..k dense, sims non-increasing
    val byNode = g2.select("src", "sim", "rnk").as[(Long, Double, Long)]
      .collect().groupBy(_._1)
    byNode.foreach { case (srcId, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to sorted.length.toLong),
        s"ranks not dense for $srcId")
      assert(sorted.sliding(2).forall(p => p.length < 2 || p(0)._2 >= p(1)._2),
        s"sims not non-increasing for $srcId")
    }
  }

  test("Similarity.nnDescentSampled: equals nnDescent under the cap; tames a dup-heavy seed") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val g0 = Similarity.knnGraphRhp(e, "embedding", "vec_id", 64, 3,
      nPlanes = 6, nTables = 2)
    // with a cap no pivot's closed neighborhood reaches, the hash-order
    // prefix IS the whole neighborhood — the two variants are identical
    val full = Similarity.nnDescent(e, "embedding", "vec_id", 3, g0, rounds = 1)
      .select("src", "nbr", "sim", "rnk").as[(Long, Long, Double, Long)]
      .collect().toSet
    val sampledWide = Similarity.nnDescentSampled(e, "embedding", "vec_id", 3, g0,
        rounds = 1, sampleK = 1 << 20)
      .select("src", "nbr", "sim", "rnk").as[(Long, Long, Double, Long)]
      .collect().toSet
    assert(sampledWide == full, "wide-cap sampled variant diverged from nnDescent")
    // a tight cap still satisfies the per-node rank contract and keeps
    // recall at-or-above the seed graph (old edges stay in the pool)
    val truth = Similarity.bruteForceTopK(e, e, "embedding", "vec_id", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(g: org.apache.spark.sql.DataFrame): Double =
      (g.select("src", "nbr").as[(Long, Long)].collect().toSet intersect truth)
        .size.toDouble / truth.size
    val tight = Similarity.nnDescentSampled(e, "embedding", "vec_id", 3, g0,
      rounds = 1, sampleK = 8)
    assert(recall(tight) >= recall(g0),
      "sampled descent must never lose the seed graph's recall")
  }

  test("RHP entry points cap degenerate buckets BY DEFAULT; opt-out restores them") {
    import spark.implicits._
    // 600 identical vectors (> the 512 default cap) + 8 distinct others:
    // the duplicate pile-up concentrates into one bucket per table and
    // must DROP under the default — the linear-output guard — while the
    // explicit opt-out still finds the pairs
    val dim = 8
    val dupVec = Array.tabulate(dim)(i => 1.0 + i)
    val rnd = new scala.util.Random(16L)
    val rows = (0L until 600L).map(i => (i, dupVec)) ++
      (600L until 608L).map(i => (i, Array.fill(dim)(rnd.nextGaussian())))
    val embs = rows.toDF("vec_id", "embedding")
    val capped = Dedup.rhpCandidatePairs(embs, "embedding", "vec_id", dim)
      .as[(Long, Long)].collect().toSet
    assert(!capped.contains((0L, 1L)),
      "default cap failed to drop the 600-member duplicate bucket")
    val uncapped = Dedup.rhpCandidatePairs(embs, "embedding", "vec_id", dim,
        maxBucketSize = Int.MaxValue)
      .as[(Long, Long)].collect().toSet
    assert(uncapped.contains((0L, 1L)), "opt-out lost the duplicate pairs")
    assert(capped.subsetOf(uncapped))
  }

  test("Dedup.embeddingNearDupsRhp: exact subset of brute-force pairs; recall reported") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val dim = e.select(size(col("embedding"))).as[Int].head()
    val thr = 0.35
    // exact all-pairs ground truth (no blocking)
    val withId = e.select(col("vec_id"), col("embedding"))
    val a = withId.select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = withId.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    val exact = a.join(b, col("a_id") < col("b_id"))
      .filter(VectorFunctions.cosineSim(col("va"), col("vb")) > thr)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val rhp = Dedup.embeddingNearDupsRhp(e, "embedding", "vec_id", dim, thr)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // the verify stage is exact, so RHP output can never contain a false positive
    assert(rhp.subsetOf(exact), s"false positives: ${rhp -- exact}")
    val recall = if (exact.isEmpty) 1.0 else rhp.size.toDouble / exact.size
    info(f"RHP recall vs exact all-pairs at cos>$thr: ${rhp.size}/${exact.size} = $recall%.2f")
    assert(exact.isEmpty || rhp.nonEmpty, "bucketing found none of the exact pairs")
  }

  test("VectorFunctions.cosineSim is exact on known vectors") {
    val df = Seq((Array(1.0, 0.0), Array(0.0, 1.0)), (Array(1.0, 2.0), Array(2.0, 4.0)))
      .toDF("a", "b")
    val sims = df.select(VectorFunctions.cosineSim(col("a"), col("b")).as("s"))
      .as[Double].collect()
    assert(sims(0) == 0.0)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
  }

  test("Similarity.bruteForceTopK ranks by cosine desc with id tie-break") {
    val vecs = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(1.0, 0.1)),   // most similar to 0
      (2L, Array(0.0, 1.0)),   // orthogonal
      (3L, Array(-1.0, 0.0))   // opposite
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs.filter(col("vec_id") === 0), vecs,
        "embedding", "vec_id", 3)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSeq.sortBy(_._2)
    assert(out.map(_._1) == Seq(1L, 2L, 3L))
  }

  test("TextFunctions counts: whitespace tokens, shingles, fingerprint") {
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val row = df.select(
      TextFunctions.wsTokenCount(col("text")).as("n"),
      size(TextFunctions.wordShingles(col("text"), 3)).as("sh"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.bpeishTokenCount(col("text")).as("bpe")
    ).as[(Long, Int, Long, Long)].head()
    assert(row._1 == 4)
    assert(row._2 == 2) // "a b c", "b c d"
    // fold of (acc*31+ascii) over "a b c d"
    val expected = "a b c d".foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    assert(row._3 == expected)
    assert(row._4 == 4)
  }

  test("Dedup.repeatedShingles counts distinct docs per cross-doc n-gram") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "a lazy dog saw the quick brown fox land"),
      (3L, "the quick brown fox jumps") // exact dup of 1
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedShingles(docs, "text", "doc_id", 4, 2)
      .as[(String, Long)].collect().toMap
    // "the quick brown fox" is in all 3; "quick brown fox jumps" in 1 and 3
    assert(out == Map("the quick brown fox" -> 3L, "quick brown fox jumps" -> 2L))
  }

  test("Dedup.topRepeatedShingles keeps the k most-shared n-grams, ties by shingle") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "a lazy dog saw the quick brown fox land"),
      (3L, "the quick brown fox jumps") // exact dup of 1
    ).toDF("doc_id", "text")
    val top = Dedup.topRepeatedShingles(docs, "text", "doc_id", 4, 2)
      .as[(String, Long)].collect().toSeq
    assert(top == Seq(("the quick brown fox", 3L), ("quick brown fox jumps", 2L)))
    assert(Dedup.topRepeatedShingles(docs, "text", "doc_id", 4, 2)
      .as[(String, Long)].collect().toSeq == top) // deterministic
  }

  test("Dedup.bloomContamination equals the exact broadcast operator") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 11 =!= 0)
    val bench = docs.filter(col("doc_id") % 11 === 0)
    val exact = Dedup.benchmarkContamination(corpus, bench, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    val bloom = Dedup.bloomContamination(corpus, bench, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(exact.nonEmpty, "contamination fixture found no overlap — fixture broken")
    assert(bloom == exact) // FPs removed by the exact-verify semi-join
  }

  test("Dedup.simhashNearDups equals brute-force Hamming<=3 pairs (banding complete)") {
    val docs = graft.sources.Tables.documents(spark, sf).limit(200)
    val sig = Dedup.simhash(docs, "text", "doc_id")
    val a = sig.select(col("doc_id").as("a_id"), col("simhash").as("sa"))
    val b = sig.select(col("doc_id").as("b_id"), col("simhash").as("sb"))
    val brute = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select("a_id", "b_id", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    val banded = Dedup.simhashNearDups(docs, "text", "doc_id", 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture has no Hamming<=3 pairs — exact dups should produce hamming 0")
    assert(banded == brute)
  }

  test("Dedup.simhashNearDups64 equals brute-force Hamming<=3 at 64-bit/16-bit bands") {
    // real docs plus PLANTED near-identical variants: random text pairs
    // almost never land within Hamming 3 of each other in 64 bits, so
    // without the plants the brute set would be near-dups-free and the
    // completeness claim untested
    val base = graft.sources.Tables.documents(spark, sf).limit(120)
      .select("doc_id", "text")
    val planted = base.limit(6)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    val docs = base.unionByName(planted)
    val sig = Dedup.simhash64(docs, "text", "doc_id")
    val a = sig.select(col("doc_id").as("a_id"), col("simhash64").as("sa"))
    val b = sig.select(col("doc_id").as("b_id"), col("simhash64").as("sb"))
    val brute = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select("a_id", "b_id", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    val banded = Dedup.simhashNearDups64(docs, "text", "doc_id", 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(brute.nonEmpty, "no Hamming<=3 pairs — planted variants should be near-identical")
    assert(banded == brute)
    // the widened signature really uses the upper 32 bits (incl. the
    // long's sign bit): some signature must be negative
    assert(sig.filter(col("simhash64") < 0).count() > 0, "bit 63 never set across 126 docs")
  }

  test("Dedup.bandClaimKept equals an independent simulation on random corpora") {
    // plain-Scala re-derivation of the claim semantics (split(" ", -1)
    // tokens, 3-gram distinct shingles, 8 min-hashes, 4 bands, raw-hash
    // fallback, min-id exact dedup + min-id band claim) — random corpora
    // hit the edges curated fixtures miss: empty strings, sub-shingle
    // docs, exact copies, near-copies, singleton corpora
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    def simulate(docs: Seq[(Long, String)]): Set[Long] = {
      case class D(id: Long, sig: String, keys: Seq[String])
      val ds = docs.map { case (id, text) =>
        val toks = text.split(" ", -1)
        val sh =
          if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
          else Seq.empty
        if (sh.nonEmpty) {
          val sigs = (0 until 8).map(j => sh.map(s => md5hex(s"$j|$s")).min)
          val bands = (0 until 4).map(b => md5hex(sigs(2 * b) + sigs(2 * b + 1)))
          D(id, bands.mkString, bands.zipWithIndex.map { case (h, b) => s"$b|$h" })
        } else {
          val sf = "raw:" + md5hex(text)
          D(id, sf, Seq("raw|" + sf))
        }
      }
      val deduped = ds.groupBy(_.sig).map(_._2.minBy(_.id)).toSeq
      val ownerSig = deduped.flatMap(d => d.keys.map(_ -> d)).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).minBy(_.id).sig }
      deduped.filter(d => d.keys.forall(k => ownerSig(k) == d.sig)).map(_.id).toSet
    }
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(20260813L)
    (1 to 12).foreach { trial =>
      val n = 1 + rnd.nextInt(24)
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      (0 until n).foreach { _ =>
        val roll = rnd.nextDouble()
        texts += (
          if (roll < 0.15 && texts.nonEmpty) texts(rnd.nextInt(texts.length)) // exact copy
          else if (roll < 0.3 && texts.nonEmpty) { // near copy: swap last token
            val base = texts(rnd.nextInt(texts.length)).split(" ", -1)
            (base.dropRight(1) :+ vocab(rnd.nextInt(vocab.length))).mkString(" ")
          }
          else Seq.fill(rnd.nextInt(9))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
      val expected = simulate(docs)
      val got = Dedup.bandClaimKept(docs.toDF("doc_id", "text"), "text", "doc_id")
        .select("doc_id").as[Long].collect().toSet
      assert(got == expected,
        s"trial $trial: spark-only ${got -- expected}, sim-only ${expected -- got}\ndocs: $docs")
    }
  }

  test("Dedup.simhashNearDups maxBucketSize drops degenerate buckets only") {
    // 10 exact copies → identical signatures → every band bucket holds
    // all 10; one distinct doc far away in Hamming space
    val docs = ((1L to 10L).map(i => (i, "same text for every single copy here")) :+
      ((99L, "completely different words nothing shared at all anywhere"))).toDF("doc_id", "text")
    val unbounded = Dedup.simhashNearDups(docs, "text", "doc_id", 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(unbounded.size == 45) // 10 choose 2, all hamming 0
    val capped = Dedup.simhashNearDups(docs, "text", "doc_id", 3, maxBucketSize = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped.isEmpty) // the only colliding buckets were degenerate
  }

  test("Dedup.passageDedup keeps first occurrence, excises cross-doc boilerplate") {
    val docs = Seq(
      (1L, "a b c d e f"),      // passages (w=3): "a b c", "d e f"
      (2L, "a b c d e f"),      // exact dup of 1 → fully removed
      (3L, "a b c x y z"),      // shares "a b c" with doc 1 → keeps only "x y z"
      (4L, "p q r")             // unique → untouched
    ).toDF("doc_id", "text")
    val out = Dedup.passageDedup(docs, "text", "doc_id", 3)
      .select("doc_id", "text_clean", "n_kept")
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set(
      (1L, "a b c d e f", 2L),
      (3L, "x y z", 1L),
      (4L, "p q r", 1L)))
  }

  test("Dedup.passageDedup matches a driver-side reference on random collision-heavy docs") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c") // tiny vocab forces cross-doc passage collisions
    for (round <- 1 to 3) {
      val w = 2
      val docs = (1L to 40L).map { id =>
        val len = 1 + rnd.nextInt(8)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // reference: first (min doc id) occurrence of each passage survives,
      // docs reassemble from surviving passages in order
      val passages = docs.flatMap { case (id, text) =>
        text.split(" ").grouped(w).zipWithIndex.map { case (p, i) => (id, i, p.mkString(" ")) }
      }
      val firstDoc = passages.groupBy(_._3).map { case (p, rows) => p -> rows.map(_._1).min }
      val expected = passages
        .filter { case (id, _, p) => firstDoc(p) == id }
        .groupBy(_._1)
        .map { case (id, rows) =>
          (id, rows.sortBy(_._2).map(_._3).mkString(" "), rows.size.toLong)
        }.toSet
      val got = Dedup.passageDedup(docs.toDF("doc_id", "text"), "text", "doc_id", w)
        .select("doc_id", "text_clean", "n_kept")
        .as[(Long, String, Long)].collect().toSet
      assert(got == expected, s"round $round")
    }
  }

  test("Dedup.passageDedup reassembles passages in document order") {
    // 7 words, w=2 → passages "w0 w1","w2 w3","w4 w5","w6"; none shared
    val docs = Seq((1L, "w0 w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    val out = Dedup.passageDedup(docs, "text", "doc_id", 2)
      .select("text_clean", "n_kept").as[(String, Long)].head()
    assert(out == (("w0 w1 w2 w3 w4 w5 w6", 4L)))
  }

  test("int8/PQ/IVFADC re-rank equals bruteForceTopK when rerank covers all") {
    val embs = graft.sources.Tables.embeddings(spark, sf).limit(200).cache()
    val dim = embs.select(size(col("embedding"))).as[Int].head()
    val q = embs.filter(col("vec_id") < 3)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "sim", "rank")
        .as[(Long, Long, Double, Long)].collect().toSet
    val exact = ranked(Similarity.bruteForceTopK(q, embs, "embedding", "vec_id", 10))
    val books = Similarity.trainPqCodebooks(embs, "embedding", "vec_id",
      m = 8, ksub = 16, dim = dim, iters = 2)
    val cents = Similarity.trainCentroids(embs, "embedding", "vec_id", k = 4, iters = 2)
    val resid = Similarity.cellResiduals(embs, cents, "embedding", "vec_id", "cell")
      .select(col("vec_id"), col("__resid").as("embedding"))
    val residBooks = Similarity.trainPqCodebooks(resid, "embedding", "vec_id",
      m = 8, ksub = 16, dim = dim, iters = 2)
    // rerank >= corpus size (and every cell probed) → the approximate
    // pre-pass prunes nothing and the exact re-rank must reproduce the
    // brute-force ranking bit-for-bit
    val full = Seq(
      "int8TopK" -> Similarity.int8TopK(q, embs, "embedding", "vec_id", 10, 1000),
      "pqTopK" -> Similarity.pqTopK(q, embs, books, "embedding", "vec_id",
        m = 8, dim = dim, k = 10, rerank = 1000),
      "ivfadcTopK" -> Similarity.ivfadcTopK(q, embs, cents, residBooks, "embedding",
        "vec_id", "cell", m = 8, dim = dim, k = 10, nprobe = 4, rerank = 1000))
    full.foreach { case (name, out) => assert(ranked(out) == exact, name) }
    // with a tight candidate budget the approx pass should still keep
    // most of the true top-10 (quantization error is ~1/254 per component)
    val approx = Similarity.int8TopK(q.filter(col("vec_id") === 0), embs, "embedding",
        "vec_id", 10, 30)
      .select("neighbor_id").as[Long].collect().toSet
    val truth = exact.filter(_._1 == 0L).map(_._2)
    val recall = truth.count(approx.contains).toDouble / 10.0
    assert(recall >= 0.8, s"recall@10 of the int8 pre-pass was $recall")
    embs.unpersist()
  }

  test("a zero vector gets no cosine: never ranked, thresholded in, or given a cell") {
    // ANSI division would throw on the zero norm; the shared cosine
    // yields null instead, so every operator's output equals its output
    // on the corpus without the zero vector
    val dim = 4
    val vecs = (1L to 12L).map(i =>
      (i, Array.tabulate(dim)(d => ((i * 5 + d * 3) % 7 - 3).toDouble + 0.5), 1))
    val withZero = ((0L, Array.fill(dim)(0.0), 1) +: vecs).toDF("vec_id", "embedding", "blk")
    val without = withZero.filter(col("vec_id") =!= 0L)
    val cents = Seq((0L, Array(1.0, 1.0, 1.0, 1.0)), (1L, Array(-1.0, 1.0, -1.0, 1.0)))
      .toDF("cell", "embedding")
    def queries(c: org.apache.spark.sql.DataFrame) = c.filter(col("vec_id") < 4)
    val cases: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "bruteForceTopK" -> (c => Similarity.bruteForceTopK(queries(c), c, "embedding", "vec_id", 5)),
      "ivfTopK" -> (c => Similarity.ivfTopK(queries(c), c, cents, "embedding", "vec_id",
        "cell", 5, nprobe = 2)),
      "int8TopK" -> (c => Similarity.int8TopK(queries(c), c, "embedding", "vec_id", 5, 100)),
      "knnGraphRhp" -> (c => Similarity.knnGraphRhp(c, "embedding", "vec_id", dim, 3,
        nPlanes = 2, nTables = 2)),
      "embeddingNearDups" -> (c => Dedup.embeddingNearDups(c, "embedding", "vec_id", "blk", 0.3)),
      "embeddingNearDupsRhp" -> (c => Dedup.embeddingNearDupsRhp(c, "embedding", "vec_id", dim,
        0.3, nPlanes = 2, nTables = 2)))
    cases.foreach { case (name, op) =>
      val want = op(without).collect().map(_.toSeq).toSet
      assert(want.nonEmpty, name)
      assert(op(withZero).collect().map(_.toSeq).toSet == want, name)
    }
    val cells = Similarity.assignCells(withZero, cents, "embedding", "vec_id", "cell")
      .select("vec_id").as[Long].collect().toSet
    assert(cells == (1L to 12L).toSet)
    val unit = withZero.filter(col("vec_id") === 0L)
      .select(VectorFunctions.normalize(col("embedding")),
        VectorFunctions.cosineSim(col("embedding"), col("embedding")))
      .head()
    assert(unit.getSeq[Any](0) == Seq(null, null, null, null))
    assert(unit.isNullAt(1))
  }

  test("hand-written BMP/stored-PNG decode to their construction pixels; profiles match") {
    // the foreign-writer check: bytes assembled from the specs by hand,
    // read back through the JDK codec — dims, every pixel, and the
    // hand-derived dHash of the l78 formulas must all survive
    val formulas: Seq[((Int, Int) => Int, Long)] = Seq(
      (((x: Int, _: Int) => 10 + 20 * x), -1L),
      (((x: Int, _: Int) => 170 - 20 * x), 0L),
      (((_: Int, y: Int) => 10 + 20 * y), 0L))
    formulas.zipWithIndex.foreach { case ((v, wantHash), i) =>
      Seq(ImageFixtures.syntheticBmp(9, 8)(v),
        ImageFixtures.syntheticPngStored(9, 8)(v)).zip(Seq("bmp", "png"))
        .foreach { case (bytes, kind) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          assert(img != null, s"$kind case $i did not decode")
          assert(img.getWidth == 9 && img.getHeight == 8)
          for (y <- 0 until 8; x <- 0 until 9) {
            val g = v(x, y) & 0xFF
            assert((img.getRGB(x, y) & 0xFFFFFF) == ((g << 16) | (g << 8) | g),
              s"$kind case $i pixel ($x,$y)")
          }
          assert(Multimodal.dHash64(img) == wantHash, s"$kind case $i hash")
        }
    }
    // a wide PNG spanning multiple stored deflate blocks still decodes
    val wide = ImageFixtures.syntheticPngStored(4000, 6)((x, y) => (x + y) % 251)
    val wideImg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(wide))
    assert(wideImg != null && wideImg.getWidth == 4000 && wideImg.getHeight == 6)
    assert((wideImg.getRGB(3999, 5) & 0xFF) == (3999 + 5) % 251)
    // truncations degrade to decoded=false (hash 0; the stub for
    // extractMetaImages) in all three ImageIO operators, never throw
    val rnd = new scala.util.Random(128L)
    Seq(ImageFixtures.syntheticImage(2L), ImageFixtures.syntheticImage(3L)).foreach { f =>
      (1 until 20).foreach { _ =>
        val cut = 1 + rnd.nextInt(f.payload.length)
        val m = Multimodal.MediaFile(f.doc_id,
          java.util.Arrays.copyOfRange(f.payload, 0, cut))
        import spark.implicits._
        val ds = spark.createDataset(Seq(m))
        val p = Multimodal.imageProfiles(ds).head()
        assert(p.dhash == 0L || p.decoded) // truncated tails may still decode
        val h = Multimodal.imageDHash(ds).head()
        assert(h == Multimodal.ImageHash(m.doc_id, p.decoded, p.dhash), s"cut $cut")
        val meta = Multimodal.extractMetaImages(ds).head()
        if (p.decoded) assert(meta.width == p.width && meta.height == p.height, s"cut $cut")
        else assert(meta == Multimodal.decodeStub(m), s"cut $cut")
      }
    }
  }

  test("Multimodal.decodeImage reads true PNG/BMP dimensions; non-images fall back to stub") {
    import graft.operators.Multimodal._
    def encoded(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xff8800) // non-trivial pixel so the encoder writes real data
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"JDK has no $fmt writer")
      bos.toByteArray
    }
    val files = spark.createDataset(Seq(
      MediaFile(1L, encoded(17, 5, "png")),
      MediaFile(2L, encoded(3, 29, "bmp")),
      MediaFile(3L, "just text bytes, not an image".getBytes("UTF-8"))))
    val metas = extractMetaImages(files).collect().map(m => m.doc_id -> m).toMap
    assert((metas(1L).width, metas(1L).height, metas(1L).n_frames) == (17L, 5L, 1L))
    assert((metas(2L).width, metas(2L).height, metas(2L).n_frames) == (3L, 29L, 1L))
    // undecodable payload → the deterministic stub, not a failure
    assert(metas(3L) == decodeStub(MediaFile(3L, "just text bytes, not an image".getBytes("UTF-8"))))
  }

  test("Packing.sequencePack covers every token exactly once in full sequences") {
    val docs = Seq(
      (1L, "a b c"),                       // 3 tokens
      (2L, (1 to 17).map("t" + _).mkString(" ")), // 17 — straddles with seqLen 8
      (3L, "x"),                           // 1
      (5L, (1 to 30).map("u" + _).mkString(" ")), // 30 — spans 4+ sequences
      (9L, "p q")                          // 2 — trailing partial
    ).toDF("doc_id", "text")
    val packed = graft.operators.Packing.sequencePack(docs, "text", "doc_id",
        seqLen = 8L, idChunk = 4L) // small chunk so the chunked prefix path is exercised
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val totalToks = 3 + 17 + 1 + 30 + 2 // 53 → 6 full sequences + 5-token tail
    // every token of every doc lands exactly once
    val perDoc = packed.groupBy(_._2).view.mapValues(_.map(r => r._4 - r._3).sum).toMap
    assert(perDoc == Map(1L -> 3L, 2L -> 17L, 3L -> 1L, 5L -> 30L, 9L -> 2L), perDoc)
    // doc-local segments are contiguous and ordered with the sequences
    packed.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._1)
      assert(sorted.head._3 == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3 && a._1 + 1 == b._1)
        case _ => ()
      }
    }
    // every sequence but the last holds exactly seqLen tokens
    val perSeq = packed.groupBy(_._1).view.mapValues(_.map(r => r._4 - r._3).sum).toMap
    val lastSeq = perSeq.keys.max
    assert(perSeq.filterNot(_._1 == lastSeq).values.forall(_ == 8L), perSeq)
    assert(perSeq(lastSeq) == totalToks % 8, perSeq)
    assert(perSeq.keys.toSeq.sorted == (0L to lastSeq), "no empty sequences skipped")
  }

  test("Packing.packWholeDocs: zero splits, exact coverage, >50% fill in full bins, truncate-only overflow") {
    // token counts 1..40 across many length classes; seqLen = 32 so
    // some docs overflow and must be truncated into solo bins
    val docs = (1 to 200).map(i => (i.toLong, ("w " * (1 + (i * 7) % 40)).trim))
      .toDF("doc_id", "text")
    val out = Packing.packWholeDocs(docs, "text", "doc_id", seqLen = 32L)
      .as[(Long, Long, Long, Long, Boolean)].collect()
    // one row per document — zero split docs, structurally
    assert(out.length == 200 && out.map(_._2).toSet.size == 200)
    out.foreach { case (_, _, n, kept, tr) =>
      if (n <= 32) assert(kept == n && !tr) else assert(kept == 32 && tr)
    }
    // bins never overflow; FULL bins (c = 32 div kept members) exceed
    // half capacity — the harmonic-shelf utilization floor
    out.groupBy(_._1).foreach { case (bin, members) =>
      val fill = members.map(_._4).sum
      assert(fill <= 32, s"bin $bin overfull: $fill")
      val c = 32L / members.head._4
      assert(members.forall(m => 32L / m._4 == c), s"bin $bin mixes classes")
      if (members.length == c.toInt)
        assert(fill > 16, s"full bin $bin under half fill: $fill")
    }
    // the contrast with l80: sequencePack SPLITS documents at sequence
    // boundaries on the same corpus; packWholeDocs never does
    val splitDocs = Packing.sequencePack(docs, "text", "doc_id", seqLen = 32L)
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(splitDocs > 0, "corpus too easy: sequencePack split nothing")
    // chunked rank form is chunk-size-invariant (the l30/l80 discipline)
    val out2 = Packing.packWholeDocs(docs, "text", "doc_id", seqLen = 32L, idChunk = 7L)
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(out.sortBy(r => (r._1, r._2)).toSeq == out2.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("Packing.sequencePackBpe: full-merge identity with sequencePack, hand-pinned partial merges, char-level empty table") {
    val docs = Seq((1L, "ab ab cd"), (2L, "cd cd cd ab"), (3L, "ab"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      df.select("seq_id", "doc_id", "tok_from", "tok_to")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    // a FULL merge table (every word collapses to one symbol) prices a
    // word at exactly 1 token — the layout must be sequencePack's,
    // row for row
    val full = Seq(("a", "b"), ("c", "d"))
    assert(rows(Packing.sequencePackBpe(docs, "text", "doc_id", full, 4L)) ==
      rows(Packing.sequencePack(docs, "text", "doc_id", 4L)))
    // partial merges, hand-derived: with only (a,b), "abc" -> [ab, c]
    // = 2 tokens; "abc abc" = 4 tokens; seqLen 3 cuts [0,3) + [3,4)
    val partial = Seq((10L, "abc abc")).toDF("doc_id", "text")
    assert(rows(Packing.sequencePackBpe(partial, "text", "doc_id", Seq(("a", "b")), 3L)) ==
      Seq((0L, 10L, 0L, 3L), (1L, 10L, 3L, 4L)))
    // EMPTY table: a word prices at its code-point count — "ab c" is
    // 3 tokens (the l89 oracle's non-space character budget)
    val charLevel = Seq((20L, "ab c")).toDF("doc_id", "text")
    assert(rows(Packing.sequencePackBpe(charLevel, "text", "doc_id", Seq.empty, 2L)) ==
      Seq((0L, 20L, 0L, 2L), (1L, 20L, 2L, 3L)))
    // MULTI-LINE doc: the occurrence split must match the vocab split
    // (whitespace runs) — a literal-space split would fuse "ab\ncd"
    // into one token absent from the vocab, and the inner join would
    // silently drop it from the budget (4 tokens, not 0)
    val multiLine = Seq((30L, "ab\ncd\tab cd")).toDF("doc_id", "text")
    assert(rows(Packing.sequencePackBpe(multiLine, "text", "doc_id", full, 4L)) ==
      Seq((0L, 30L, 0L, 4L)))
  }

  test("Packing.sequencePackByteBpe: empty table prices bytes; trained merges shrink budgets") {
    val docs = Seq((1L, "aa aa"), (2L, "bb")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      df.select("seq_id", "doc_id", "tok_from", "tok_to")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    // empty merges: "aa"=2 byte units + " aa"=3 ('Ġ'+2) = 5; "bb"=2;
    // seqLen 4 cuts doc1 at [0,4)+[4,5), doc2 lands in seq 1
    assert(rows(Packing.sequencePackByteBpe(docs, "text", "doc_id", Seq.empty, 4L)) ==
      Seq((0L, 1L, 0L, 4L), (1L, 1L, 4L, 5L), (1L, 2L, 0L, 2L)))
    // trained merges collapse every pre-token to ONE piece ("aa",
    // then 'Ġ'+"aa", then "bb"): doc1 = 2 tokens, doc2 = 1 — all fit seq 0
    val merges = Seq(("a", "a"), ("Ġ", "aa"), ("b", "b"))
    assert(rows(Packing.sequencePackByteBpe(docs, "text", "doc_id", merges, 4L)) ==
      Seq((0L, 1L, 0L, 2L), (0L, 2L, 0L, 1L)))
  }

  test("Similarity PQ: training is deterministic; ADC+rerank recalls the true top-10") {
    val embs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("embedding"))
      .limit(300).cache()
    val dim = embs.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    def train() = Similarity.trainPqCodebooks(embs, "embedding", "vec_id",
      m = 8, ksub = 16, dim = dim, iters = 4)
    val books = train()
    // fixed seeds + fixed iterations + lowest-code tie-breaks => two
    // runs produce the identical codebook
    val b1 = books.orderBy("s", "j").collect().map(_.toSeq).toSeq
    val b2 = train().orderBy("s", "j").collect().map(_.toSeq).toSeq
    assert(b1 == b2)
    assert(b1.size == 8 * 16) // never shrinks, even if some codes win nothing
    val q = embs.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(q, embs, "embedding", "vec_id", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(q, embs, books, "embedding", "vec_id",
        m = 8, dim = dim, k = 10, rerank = 60)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(pq.contains).toDouble / exact.size
    // 8x16 codes is a coarse quantizer; with rerank 60 of 300 the ADC
    // pass must still steer the exact re-rank to most true neighbors
    // (chance level for 60/300 candidates would be ~0.2)
    assert(recall >= 0.5, s"recall@10 = $recall")
    embs.unpersist()
  }

  test("Similarity IVFADC: residual-trained codes recall the true top-10; nprobe widens monotonically") {
    val embs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("embedding"))
      .limit(300).cache()
    val dim = embs.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val cents = Similarity.trainCentroids(embs, "embedding", "vec_id", k = 4, iters = 3)
    // the residual corpus IS the training input (Jégou §IV): codebooks
    // quantize vector − cell centroid, not the raw vectors
    val resid = Similarity.cellResiduals(embs, cents, "embedding", "vec_id", "cell")
      .select(col("vec_id"), col("__resid").as("embedding"))
    val books = Similarity.trainPqCodebooks(resid, "embedding", "vec_id",
      m = 8, ksub = 16, dim = dim, iters = 4)
    val q = embs.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(q, embs, "embedding", "vec_id", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(nprobe: Int): Double = {
      val got = Similarity.ivfadcTopK(q, embs, cents, books, "embedding", "vec_id",
          "cell", m = 8, dim = dim, k = 10, nprobe = nprobe, rerank = 60)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      exact.count(got.contains).toDouble / exact.size
    }
    val r1 = recall(1); val rAll = recall(4)
    info(f"IVFADC recall@10: nprobe=1 $r1%.2f, nprobe=4 $rAll%.2f")
    // nprobe = ncells scans every cell — the pqTopK regime with FINER
    // (residual) quantization, so the same 0.5 floor must hold
    assert(rAll >= 0.5, s"recall@10 at nprobe=4 = $rAll")
    assert(rAll >= r1, s"widening the probe lost recall: $r1 -> $rAll")
    // the scan is confined to probed cells: with nprobe=1 every
    // returned neighbor shares the query's nearest cell
    val cellOf = Similarity.assignCells(embs, cents, "embedding", "vec_id", "cell")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val got1 = Similarity.ivfadcTopK(q, embs, cents, books, "embedding", "vec_id",
        "cell", m = 8, dim = dim, k = 10, nprobe = 1, rerank = 60)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(got1.nonEmpty)
    got1.foreach { case (qid, nid) =>
      assert(cellOf(nid) == cellOf(qid), s"neighbor $nid outside query $qid's probed cell")
    }
    embs.unpersist()
  }

  test("IVFADC persisted index: results identical to in-memory; scan plans a cell partition filter") {
    val embs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("embedding"))
      .limit(200).cache()
    val dim = embs.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val cents = Similarity.trainCentroids(embs, "embedding", "vec_id", k = 4, iters = 2)
    val resid = Similarity.cellResiduals(embs, cents, "embedding", "vec_id", "cell")
      .select(col("vec_id"), col("__resid").as("embedding"))
    val books = Similarity.trainPqCodebooks(resid, "embedding", "vec_id",
      m = 8, ksub = 8, dim = dim, iters = 2)
    val q = embs.filter(col("vec_id") < 3)
    val idx = java.nio.file.Files.createTempDirectory("ivfadc").toString + "/index"
    Similarity.writeIvfadcIndex(embs, cents, books, "embedding", "vec_id", "cell",
      m = 8, dim = dim, path = idx)
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    val mem = run(Similarity.ivfadcTopK(q, embs, cents, books, "embedding",
      "vec_id", "cell", 8, dim, k = 5, nprobe = 2, rerank = 30))
    val indexed = Similarity.ivfadcTopKIndexed(q, idx, embs, cents, books,
      "embedding", "vec_id", "cell", 8, dim, k = 5, nprobe = 2, rerank = 30)
    assert(run(indexed) == mem, "persisted-index results diverge from in-memory")
    // the parquet scan must carry the probed cells as a PARTITION
    // filter (file skipping), not a post-scan data filter
    val scans = graft.PlanAudit.flatten(indexed.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no file scan in the indexed plan")
    val withPartFilter = scans.filter(_.partitionFilters.exists(
      _.references.exists(_.name == "cell")))
    assert(withPartFilter.nonEmpty,
      s"no cell partition filter; scans: ${scans.map(_.partitionFilters).mkString(" | ")}")
    embs.unpersist()
  }

  test("Multimodal.imageNearDups banded pairs equal brute-force Hamming <= 3 over dHashes") {
    import graft.operators.Multimodal._
    val rnd = new scala.util.Random(19)
    // clusters: random 16x16 gray base images plus variants that darken
    // 0-2 pixels (each flips at most 2 difference bits), so true pairs
    // at Hamming <= 3 exist; unrelated bases are far apart
    def gray(px: Array[Array[Int]]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val g = px(y)(x) & 0xff
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "bmp", bos))
      bos.toByteArray
    }
    val files = scala.collection.mutable.ArrayBuffer.empty[MediaFile]
    var id = 0L
    (1 to 8).foreach { _ =>
      val base = Array.fill(16, 16)(rnd.nextInt(256))
      (0 until 3).foreach { v =>
        val px = base.map(_.clone())
        (0 until v).foreach { _ => px(rnd.nextInt(16))(rnd.nextInt(16)) = 0 }
        files += MediaFile(id, gray(px)); id += 1
      }
    }
    files += MediaFile(id, "junk bytes".getBytes("UTF-8")) // must be excluded
    val ds = spark.createDataset(files.toSeq)
    val hashes = imageDHash(ds).collect().filter(_.decoded).map(h => h.doc_id -> h.dhash)
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    assert(brute.nonEmpty, "fixture produced no close pairs — weak test")
    val banded = imageNearDups(ds, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == brute, s"banded ${banded.size} vs brute ${brute.size}")
  }

  test("Multimodal.audioNearDups banded pairs equal brute-force Hamming <= 3 over envelope hashes") {
    import graft.operators.Multimodal._
    // clusters: random envelopes + variants silencing 0-2 frames (each
    // flips at most 2 difference bits), plus a non-audio distractor
    val rnd = new scala.util.Random(23)
    val files = scala.collection.mutable.ArrayBuffer.empty[MediaFile]
    var id = 0L
    def wav(samples: Array[Int]): Array[Byte] = {
      def le16(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def tag(s: String) = s.getBytes("ISO-8859-1")
      val fmt = tag("fmt ") ++ le32(16) ++ le16(1) ++ le16(1) ++
        le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
      val data = tag("data") ++ le32(samples.length * 2L) ++
        samples.flatMap(v => le16(v.toLong & 0xffffL))
      val body = tag("WAVE") ++ fmt ++ data
      tag("RIFF") ++ le32(body.length.toLong) ++ body
    }
    (1 to 8).foreach { _ =>
      val base = Array.fill(65)(rnd.nextInt(20000))
      (0 until 3).foreach { v =>
        val s = base.clone()
        (0 until v).foreach(_ => s(rnd.nextInt(65)) = 0)
        files += MediaFile(id, wav(s)); id += 1
      }
    }
    files += MediaFile(id, "noise bytes".getBytes("UTF-8"))
    val ds = spark.createDataset(files.toSeq)
    val hashes = audioDHash(ds).collect().filter(_.decoded).map(h => h.doc_id -> h.ahash)
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    assert(brute.nonEmpty, "fixture produced no close pairs — weak test")
    val banded = audioNearDups(ds, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == brute, s"banded ${banded.size} vs brute ${brute.size}")
  }

  test("audioAHash64 never throws on mutated, truncated, or garbage payloads") {
    import graft.operators.Multimodal._
    val rnd = new scala.util.Random(41)
    val seeds = graft.operators.AudioHashFixtures.cases.map(_._2)
    (1 to 400).foreach { i =>
      val payload = rnd.nextInt(3) match {
        case 0 =>
          val s = seeds(rnd.nextInt(seeds.length))
          s.take(1 + rnd.nextInt(s.length))
        case 1 =>
          val s = seeds(rnd.nextInt(seeds.length)).clone()
          (0 until 1 + rnd.nextInt(6)).foreach(_ =>
            s(rnd.nextInt(s.length)) = rnd.nextInt().toByte)
          s
        case _ => Array.fill(rnd.nextInt(200))(rnd.nextInt().toByte)
      }
      audioAHash64(payload) // must not throw; None or Some are both data
    }
  }

  test("trainPqCodebooks stays sane when the corpus holds fewer vectors than ksub") {
    val tiny = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("embedding"))
      .limit(5)
    val dim = tiny.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val books = Similarity.trainPqCodebooks(tiny, "embedding", "vec_id",
      m = 4, ksub = 16, dim = dim, iters = 2)
    // only 5 seeds exist: the codebook has 4 subspaces x 5 live codes
    // and never throws or duplicates (s, j) keys
    val rows = books.select("s", "j").as[(Int, Int)].collect()
    assert(rows.length == rows.toSet.size)
    assert(rows.groupBy(_._1).values.forall(_.length == 5), rows.toSeq.sorted.take(10))
    // and encoding with the partial codebook still covers every vector
    val codes = Similarity.pqEncode(tiny, "embedding", "vec_id", books, 4, dim)
    assert(codes.count() == 5)
  }

  test("Multimodal.decodeVideo reads true MP4 dimensions/duration/frames; non-MP4 falls back to stub") {
    import graft.operators.Multimodal._
    // hand-assembled but fully valid ISO BMFF box tree — the same byte
    // layout ffmpeg writes, minus the codec payload the parser never reads
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      be32(body.length + 8L) ++ typ.getBytes("ISO-8859-1") ++ body
    }
    val mvhd = box("mvhd", // version 0: timescale 1000, duration 2500 → 2500 ms
      be32(0), be32(0), be32(0), be32(1000), be32(2500),
      Array.fill(80)(0.toByte))
    val tkhd = box("tkhd", // v0: width 320, height 180 as 16.16 fixed point
      be32(0), be32(0), be32(0), be32(1), be32(0), be32(2500),
      Array.fill(8 + 2 + 2 + 2 + 2 + 36)(0.toByte),
      be32(320L << 16), be32(180L << 16))
    val stsz = box("stsz", be32(0), be32(0), be32(50)) // 50 samples (frames)
    val trak = box("trak", tkhd, box("mdia", box("minf", box("stbl", stsz))))
    val mp4 = box("ftyp", "isom".getBytes("ISO-8859-1"), be32(512)) ++
      box("moov", mvhd, trak)
    val notMp4 = "just text bytes, not a container".getBytes("UTF-8")
    val files = spark.createDataset(Seq(MediaFile(1L, mp4), MediaFile(2L, notMp4)))
    val metas = extractMetaVideo(files).collect().map(m => m.doc_id -> m).toMap
    assert(metas(1L) == VideoMeta(1L, mp4.length.toLong, 320L, 180L, 50L, 2500L, "mp4"))
    // undecodable payload → the deterministic stub, tagged as such
    val s = decodeStub(MediaFile(2L, notMp4))
    assert(metas(2L) == VideoMeta(2L, s.byte_len, s.width, s.height,
      s.n_frames, s.n_frames * 40L, "stub"))
    // an AUDIO-only MP4 (zero tkhd dimensions) is not a video: stub path
    val audioTrak = box("trak", box("tkhd",
      be32(0), be32(0), be32(0), be32(2), be32(0), be32(2500),
      Array.fill(8 + 2 + 2 + 2 + 2 + 36)(0.toByte), be32(0), be32(0)))
    val audioMp4 = box("moov", mvhd, audioTrak)
    assert(decodeVideo(MediaFile(3L, audioMp4)).container == "stub")

    // AVI: RIFF/'AVI ' with the avih main header nested in LIST hdrl —
    // 40 ms/frame × 100 frames, 640×360
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(fourcc: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      fourcc.getBytes("ISO-8859-1") ++ le32(body.length.toLong) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    }
    val avih = chunk("avih", le32(40000), le32(0), le32(0), le32(0),
      le32(100), le32(0), le32(0), le32(0), le32(640), le32(360),
      Array.fill(16)(0.toByte))
    val hdrl = chunk("LIST", "hdrl".getBytes("ISO-8859-1"), avih)
    val aviBody = "AVI ".getBytes("ISO-8859-1") ++ hdrl
    val avi = "RIFF".getBytes("ISO-8859-1") ++ le32(aviBody.length.toLong) ++ aviBody
    assert(decodeVideo(MediaFile(4L, avi)) ==
      VideoMeta(4L, avi.length.toLong, 640L, 360L, 100L, 4000L, "avi"))

    // resize routes through the REAL container dimensions: the 320×180
    // MP4 scales true-aspect to 64×36 (not the stub's byte-length-derived
    // box), and the container tag travels with every frame so a consumer
    // can tell which path produced it
    val frames = spark.createDataset(Seq(FrameRef(1L, 0L), FrameRef(2L, 0L)))
    val resized = resizeFrames(files, frames, 64, 64).collect()
      .map(r => r.doc_id -> r).toMap
    assert((resized(1L).width, resized(1L).height, resized(1L).container) ==
      (64L, 36L, "mp4"), s"got ${resized(1L)}")
    assert(resized(2L).container == "stub")
  }

  test("Multimodal.decodeVideo reads true MKV dimensions/duration; audio-only falls back") {
    import graft.operators.Multimodal._
    // hand-assembled valid EBML: header + Segment(Info(TimestampScale,
    // Duration), Tracks(TrackEntry(TrackType, Video(PixelWidth, PixelHeight))))
    def eid(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray
    def esize(n: Int): Array[Byte] =
      if (n < 127) Array((0x80 | n).toByte)
      else Array((0x40 | (n >> 8)).toByte, (n & 0xff).toByte)
    def el(id: Array[Byte], payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      id ++ esize(body.length) ++ body
    }
    def be(v: Long, n: Int): Array[Byte] =
      (n - 1 to 0 by -1).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    val info = el(eid(0x15, 0x49, 0xA9, 0x66),
      el(eid(0x2A, 0xD7, 0xB1), be(1000000L, 3)), // 1 ms/tick
      el(eid(0x44, 0x89), be(java.lang.Double.doubleToLongBits(2500.0), 8)))
    val video = el(eid(0xE0),
      el(eid(0xB0), be(1280L, 2)), el(eid(0xBA), be(720L, 2)))
    val track = el(eid(0xAE), el(eid(0x83), be(1L, 1)), video)
    val tracks = el(eid(0x16, 0x54, 0xAE, 0x6B), track)
    val mkv = el(eid(0x1A, 0x45, 0xDF, 0xA3)) ++
      el(eid(0x18, 0x53, 0x80, 0x67), info, tracks)
    // header-only payload (no Clusters): frame count honestly unknown → 1
    assert(decodeVideo(MediaFile(1L, mkv)) ==
      VideoMeta(1L, mkv.length.toLong, 1280L, 720L, 1L, 2500L, "mkv"))
    // audio-only (TrackEntry without a Video element) → stub path
    val audioMkv = el(eid(0x1A, 0x45, 0xDF, 0xA3)) ++
      el(eid(0x18, 0x53, 0x80, 0x67), info,
        el(eid(0x16, 0x54, 0xAE, 0x6B), el(eid(0xAE), el(eid(0x83), be(2L, 1)))))
    assert(decodeVideo(MediaFile(2L, audioMkv)).container == "stub")

    // Clusters present: the bounded header scan counts blocks — two
    // SimpleBlocks in one Cluster plus a BlockGroup in a second = 3
    // frames, with zero payload bytes decoded
    val blockBytes = Array(0x81, 0x00, 0x00, 0x80, 1, 2, 3).map(_.toByte)
    val cluster1 = el(eid(0x1F, 0x43, 0xB6, 0x75),
      el(eid(0xE7), be(0L, 1)), // Timestamp — walked over, not counted
      el(eid(0xA3), blockBytes), el(eid(0xA3), blockBytes))
    val cluster2 = el(eid(0x1F, 0x43, 0xB6, 0x75),
      el(eid(0xA0), el(eid(0xA1), blockBytes)))
    val mkvClustered = el(eid(0x1A, 0x45, 0xDF, 0xA3)) ++
      el(eid(0x18, 0x53, 0x80, 0x67), info, tracks, cluster1, cluster2)
    assert(decodeVideo(MediaFile(3L, mkvClustered)) ==
      VideoMeta(3L, mkvClustered.length.toLong, 1280L, 720L, 3L, 2500L, "mkv"))

    // a Cluster bigger than the scan budget (8 MiB): honest fallback to
    // n_frames = 1, never an undercount from a truncated walk
    def elBig(id: Array[Byte], n: Int): Array[Byte] = {
      // 8-byte EBML size so the 9 MiB payload length encodes cleanly
      val size = Array(0x01, 0, 0, 0, 0, (n >> 16) & 0xff, (n >> 8) & 0xff, n & 0xff)
        .map(_.toByte)
      id ++ size ++ Array.fill(n)(0.toByte)
    }
    val hugeCluster = elBig(eid(0x1F, 0x43, 0xB6, 0x75), 9 << 20)
    val segBody = info ++ tracks ++ hugeCluster
    val segSize = {
      val n = segBody.length
      Array(0x01, 0, 0, 0, 0, (n >> 16) & 0xff, (n >> 8) & 0xff, n & 0xff).map(_.toByte)
    }
    val mkvOverBudget = el(eid(0x1A, 0x45, 0xDF, 0xA3)) ++
      eid(0x18, 0x53, 0x80, 0x67) ++ segSize ++ segBody
    val meta = decodeVideo(MediaFile(4L, mkvOverBudget))
    assert(meta.container == "mkv" && meta.n_frames == 1L,
      s"budget-hit scan must report unknown (1), got $meta")
  }

  test("Multimodal.decodeAudio reads WAV/FLAC/MP3 headers; edge widths and rates hold") {
    import graft.operators.Multimodal._
    // the l61 fixtures decode to their construction parameters
    graft.operators.AudioFixtures.fixtures.foreach { case (f, exp) =>
      assert(decodeAudio(f) == exp, s"doc ${f.doc_id}")
    }
    // a WAV whose data chunk precedes fmt still parses (chunk order is
    // not fixed by RIFF), and odd-sized chunks honor the pad byte
    def le16(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def tag(s: String) = s.getBytes("ISO-8859-1")
    val oddChunk = tag("LIST") ++ le32(3) ++ Array[Byte](1, 2, 3, 0) // padded
    val fmt = tag("fmt ") ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
      le32(44100 * 4) ++ le16(4) ++ le16(16)
    val data = tag("data") ++ le32(400) ++ Array.fill(400)(0.toByte)
    val body = tag("WAVE") ++ oddChunk ++ data ++ fmt
    val wav = tag("RIFF") ++ le32(body.length.toLong) ++ body
    val meta = decodeAudio(MediaFile(7L, wav))
    assert(meta == AudioMeta(7L, wav.length.toLong, 2L, 44100L, 16L, 100L,
      100L * 1000 / 44100, "wav"), meta.toString)
  }

  test("Multimodal audio parsers never throw on mutated/truncated payloads") {
    import graft.operators.Multimodal._
    val rnd = new scala.util.Random(43)
    val seeds = graft.operators.AudioFixtures.fixtures.map(_._1.payload)
    (1 to 400).foreach { i =>
      val payload = rnd.nextInt(3) match {
        case 0 => // mutate a valid container payload in a few positions
          val p = seeds(rnd.nextInt(seeds.length)).clone()
          (0 until 1 + rnd.nextInt(8)).foreach { _ =>
            p(rnd.nextInt(p.length)) = rnd.nextInt().toByte }
          p
        case 1 => // truncate a valid payload
          val p = seeds(rnd.nextInt(seeds.length))
          p.take(1 + rnd.nextInt(p.length))
        case _ => Array.fill(rnd.nextInt(128))(rnd.nextInt().toByte)
      }
      val meta = decodeAudio(MediaFile(i.toLong, payload)) // must not throw
      assert(meta.doc_id == i.toLong && meta.byte_len == payload.length.toLong)
    }
  }

  test("Multimodal container parsers never throw on mutated/truncated payloads") {
    import graft.operators.Multimodal._
    // the 100 TB contract: a corrupt payload is DATA (stub fallback),
    // never a stage failure. Mutate and truncate valid containers and
    // pure noise; every decode must return a row.
    val rnd = new scala.util.Random(42)
    def mp4ish(): Array[Byte] = {
      def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      be32(rnd.nextInt(64).toLong) ++ "moov".getBytes("ISO-8859-1") ++
        Array.fill(rnd.nextInt(96))(rnd.nextInt().toByte)
    }
    def aviish(): Array[Byte] =
      "RIFF".getBytes("ISO-8859-1") ++ Array.fill(4)(rnd.nextInt().toByte) ++
        "AVI ".getBytes("ISO-8859-1") ++ Array.fill(rnd.nextInt(96))(rnd.nextInt().toByte)
    def mkvish(): Array[Byte] =
      Array(0x1A, 0x45, 0xDF, 0xA3).map(_.toByte) ++
        Array.fill(rnd.nextInt(96))(rnd.nextInt().toByte)
    (1 to 400).foreach { i =>
      val payload = rnd.nextInt(4) match {
        case 0 => mp4ish()
        case 1 => aviish()
        case 2 => mkvish()
        case _ => Array.fill(rnd.nextInt(128))(rnd.nextInt().toByte)
      }
      // truncate at a random point too
      val cut = if (payload.isEmpty) payload else payload.take(1 + rnd.nextInt(payload.length))
      val meta = decodeVideo(MediaFile(i.toLong, cut)) // must not throw
      assert(meta.doc_id == i.toLong && meta.byte_len == cut.length.toLong)
    }
  }

  test("Scoring.hashedLinearScore matches an exact driver-side reference on random weights") {
    // the Scaladoc contract: quantize-once DECIMAL weights make the
    // per-doc sum exact and shuffle-order-independent — so a seeded
    // random weight vector must reproduce a BigDecimal reference
    // bit-for-bit, not approximately.
    val rnd = new scala.util.Random(4242)
    val b = 64
    val weights = Array.fill(b)(rnd.nextDouble() * 2 - 1)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "the", "of")
    val docs = (1L to 20L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } :+ ((21L, "alpha  beta")) // double space: empty token, same as Spark's split
    val df = docs.toDF("doc_id", "text")

    def bucketOf(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = md.take(2).map(x => f"$x%02x").mkString // first 4 hex chars
      (java.lang.Long.parseLong(hex, 16) % b).toInt
    }
    val qw = weights.map(w => BigDecimal(w).setScale(8, BigDecimal.RoundingMode.HALF_UP))
    val expected = docs.map { case (id, text) =>
      val toks = text.split(" ", -1).toSeq // limit -1: Spark's split keeps empties
      val wSum = toks.map(t => qw(bucketOf(t))).sum
      id -> ((toks.size.toLong, wSum,
        (wSum / toks.size).setScale(6, BigDecimal.RoundingMode.HALF_UP), wSum > 0))
    }.toMap

    val got = Scoring.hashedLinearScore(df, "text", "doc_id", weights)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2)), BigDecimal(r.getDecimal(3)),
          r.getBoolean(4)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, (n, wSum, score, keep)) =>
      val (gn, gSum, gScore, gKeep) = got(id)
      assert(gn == n, s"doc $id n_tokens")
      assert(gSum.compare(wSum) == 0, s"doc $id w_sum: got $gSum want $wSum")
      assert(gScore.compare(score) == 0, s"doc $id score: got $gScore want $score")
      assert(gKeep == keep, s"doc $id keep")
    }
  }

  test("Multimodal stub pipeline derives metadata from payload bytes") {
    import graft.operators.Multimodal._
    val files = spark.createDataset(Seq(MediaFile(1L, Array.fill(250)(7.toByte))))
    val meta = extractMeta(files).collect().head
    assert(meta == MediaMeta(1L, 250L, 64 + 250 % 512, 64 + (250 * 31) % 512, 3L, 1L))
  }

  test("Multimodal.sampleFrames takes every k-th frame; resize preserves aspect") {
    import graft.operators.Multimodal._
    val files = spark.createDataset(Seq(MediaFile(1L, Array.fill(250)(7.toByte))))
    val metas = extractMeta(files) // 3 frames
    val frames = sampleFrames(metas, 2)
    assert(frames.collect().toSet == Set(FrameRef(1L, 0L), FrameRef(1L, 2L)))
    val resized = resizeFrames(files, frames, 64, 64).collect()
    assert(resized.length == 2)
    resized.foreach { r =>
      assert(r.width <= 64 && r.height <= 64 && r.width.max(r.height) == 64)
      assert(r.payload.length == 16)
    }
  }
}
