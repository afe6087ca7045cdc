package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Unit tests for the B9 operator APIs on controlled synthetic inputs
  * (the fixture corpus has no true duplicates, so the pair-producing
  * paths are exercised here with planted near-dups). */
class DedupSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog near the river bank today"
  private val nearDup = base.replace("today", "tonight") // 1-word edit
  private val distinct1 = "completely different words about spark query engines and shuffles everywhere"
  private val docs = Seq(
    (0L, base), (1L, base), (2L, nearDup), (3L, distinct1)
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content and keeps the min id") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(out.length == 3)
    val dup = out.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 0L) // ids 0 and 1 collapse to 0
  }

  test("minhash LSH candidate pairs surface near-dups, not unrelated docs") {
    val buckets = Dedup.lshBuckets(docs, "doc_id", "text",
      shingleWords = 2, bands = 8, rowsPerBand = 1)
    val pairs = Dedup.candidatePairs(buckets)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // identical docs always collide
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc
  }

  test("connected components: distributed loop agrees with driver union-find") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 1L))
      .toDF("id_a", "id_b")
    val viaDriver = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val viaLoop = Dedup.connectedComponents(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == viaLoop)
    // {1,2,3,8,9} → 1 and {5,6} → 5
    assert(viaDriver(9L) == 1L && viaDriver(3L) == 1L && viaDriver(6L) == 5L)
  }

  test("connected components: distributed path handles diameter > round budget " +
    "(star contraction, not label propagation)") {
    // a 60-node path graph — diameter 59 would need 59 label-propagation
    // rounds, far past any sane cap; star contraction closes it in O(log n)
    val path = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(path, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 60)
    assert(labels.values.forall(_ == 0L))
    // and a mixed graph: two components + an isolated edge, distributed path
    val mixed = (0L until 30L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (200L, 201L))
    val m = Dedup.connectedComponents(mixed.toDF("id_a", "id_b"), driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert((0L to 30L).forall(m(_) == 0L))
    assert(m(102L) == 100L && m(201L) == 200L)
  }

  test("oversized band buckets are dropped before pairing (quadratic guard)") {
    // 500 identical docs: every band key degenerates to one 500-doc bucket
    val many = (0L until 500L).map(i => (i, base)).toDF("doc_id", "text")
    val buckets = Dedup.lshBuckets(many, "doc_id", "text",
      shingleWords = 2, bands = 4, rowsPerBand = 2)
    assert(Dedup.candidatePairs(buckets, cap = 50).count() == 0,
      "degenerate buckets must be dropped, not expanded quadratically")
    // under the cap the same corpus pairs fully (the guard is a no-op)
    val full = Dedup.candidatePairs(Dedup.lshBuckets(many, "doc_id", "text",
      shingleWords = 2, bands = 4, rowsPerBand = 2), cap = 1000)
    assert(full.count() == 500L * 499L / 2L)
    // mixed corpus: the giant bucket is dropped, small-bucket pairs survive
    val mixed = ((0L until 200L).map(i => (i, base)) ++
      Seq((900L, distinct1), (901L, distinct1))).toDF("doc_id", "text")
    val pairs = Dedup.candidatePairs(Dedup.lshBuckets(mixed, "doc_id", "text",
      shingleWords = 2, bands = 4, rowsPerBand = 2), cap = 50)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((900L, 901L)))
  }

  test("jaccard verification drops a band-collision pair below tau; CC clusters only verified pairs") {
    // one low-overlap doc (shares only the 'the quick' bigram with base)
    val withOverlap = docs.unionAll(Seq(
      (4L, "the quick red cat sleeps under a tall tree tonight maybe")).toDF("doc_id", "text"))
    // inject the band collisions directly: (0,2) is a true near-dup,
    // (0,3)/(0,4) are the false positives a degenerate band key produces
    val pairs = Seq((0L, 2L), (0L, 3L), (0L, 4L)).toDF("id_a", "id_b")
    val sh = Dedup.wordShingleHashes(withOverlap, "doc_id", "text", 2)
    val verified = Dedup.jaccardVerifiedPairs(pairs, sh, tau = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(verified.map(p => (p._1, p._2)).toSet == Set((0L, 2L)),
      "only the measured-similar pair may survive verification")
    assert(verified.head._3 >= 0.5 && verified.head._3 <= 1.0)
    // and the cluster step sees only verified edges: 3 and 4 are NOT clustered
    val comp = Dedup.connectedComponents(
      Dedup.jaccardVerifiedPairs(pairs, sh, tau = 0.5))
      .as[(Long, Long)].collect().toMap
    assert(comp.get(3L).isEmpty && comp.get(4L).isEmpty,
      "an unverified band collision must not cluster")
    assert(comp(0L) == 0L && comp(2L) == 0L)
    // tau is a real knob: lowered, the small-overlap pair survives too
    // (the zero-overlap pair (0,3) never does — Jaccard 0 is never >= a
    // meaningful tau, and it has no intersection row at all)
    val loose = Dedup.jaccardVerifiedPairs(pairs, sh, tau = 0.01)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(loose == Set((0L, 2L), (0L, 4L)))
  }

  test("lshBucketsAndShingles: buckets identical to lshBuckets; shingle " +
    "stream carries the true per-doc set sizes") {
    val (buckets, shingles) = Dedup.lshBucketsAndShingles(
      docs, "doc_id", "text", shingleWords = 2, bands = 4, rowsPerBand = 2)
    val combined = buckets.as[(Long, Int, String)].collect().toSet
    val direct = Dedup.lshBuckets(docs, "doc_id", "text", 2, 4, 2)
      .as[(Long, Int, String)].collect().toSet
    assert(combined == direct,
      "single-digest helper must band identically to lshBuckets")
    // per-doc DISTINCT shingle-hash count == true distinct word-bigram count
    val gotSizes = shingles.distinct().groupBy("id").count()
      .as[(Long, Long)].collect().toMap
    val expSizes = docs.collect().map { r =>
      val ws = r.getString(1).split(" ")
      val grams = if (ws.length < 2) Seq(ws.mkString(" "))
        else ws.sliding(2).map(_.mkString(" ")).toSeq
      r.getLong(0) -> grams.distinct.size.toLong
    }.toMap
    assert(gotSizes == expSizes)
  }

  test("simhash of identical docs equal; near-dups within small hamming distance") {
    val sh = docs.select($"doc_id", Dedup.simhashExpr("text").as("h"))
      .as[(Long, String)].collect().toMap
    assert(sh(0L) == sh(1L))
    assert(sh(0L).length == 32)
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(sh(0L), sh(2L)) < ham(sh(0L), sh(3L)))
  }

  test("hammingDistance column agrees with scala reference") {
    val got = docs.as("a").crossJoin(docs.as("b"))
      .select(Dedup.hammingDistance(
        Dedup.simhashExpr("a.text"), Dedup.simhashExpr("b.text")).as("d"))
      .agg(max($"d")).as[Int].head()
    assert(got > 0 && got <= 32)
  }

  test("brute-force cosine top-k ranks an identical vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),    // identical to 0
      (2L, Array(0.9f, 0.1f, 0.0f)),    // close
      (3L, Array(0.0f, 0.0f, 1.0f))     // orthogonal
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), 3)
      .orderBy("rank").as[(Long, Long, Long, Double)].collect()
    assert(top.map(_._2).toSeq == Seq(1L, 2L, 3L))
    assert(math.abs(top(0)._4 - 1.0) < 1e-6)
    assert(top(2)._4 < 1e-6) // orthogonal ≈ 0
  }

  test("lsh bucket signature is deterministic and groups identical vectors") {
    val vecs = Seq(
      (0L, Array.fill(64)(0.25f)),
      (1L, Array.fill(64)(0.25f)),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -0.5f))
    ).toDF("vec_id", "embedding")
    val b = vecs.select($"vec_id", Similarity.lshBucket(Similarity.quantize($"embedding"), 8, 64).as("bucket"))
      .as[(Long, String)].collect().toMap
    assert(b(0L) == b(1L))
    assert(b(0L).matches("[01]{8}"))
    val b2 = vecs.select($"vec_id", Similarity.lshBucket(Similarity.quantize($"embedding"), 8, 64).as("bucket"))
      .as[(Long, String)].collect().toMap
    assert(b == b2) // run-to-run determinism
  }

  test("inParallel reports every failed leg: the first error is rethrown " +
    "with the others attached as suppressed, after all legs settle") {
    val ran = new java.util.concurrent.atomic.AtomicInteger()
    val e = intercept[RuntimeException] {
      Dedup.inParallel(
        () => throw new RuntimeException("leg A failed"),
        () => { ran.incrementAndGet(); () },
        () => throw new IllegalStateException("leg C failed"))
    }
    val msgs = (e +: e.getSuppressed.toSeq).map(_.getMessage).toSet
    assert(msgs == Set("leg A failed", "leg C failed"))
    assert(ran.get == 1, "the healthy leg did not run to completion")
  }
}
