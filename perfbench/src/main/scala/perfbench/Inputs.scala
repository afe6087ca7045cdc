package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Every input a workload hands the engine is
  * derived from the run's seed alone; sub-streams get their own derived
  * seeds so that, e.g., the tenth arrival batch does not depend on how
  * many batches an earlier phase consumed.
  *
  * Documents have the shape of the fixtures' `documents` table at sf0.1
  * (doc_id, text, lang, source, n_chars): 10–100 words drawn uniformly
  * from the same 30-word vocabulary, the same language mix and 20
  * sources. */
object Inputs {

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  val Vocab: Array[String] =
    ("spark window merge table column vector stream value data small join filter big " +
      "group hash customer sort order slow line part fast row the agg key query a scan batch")
      .split(" ")

  private val Langs = Array("en" -> 41, "zh" -> 15, "de" -> 14, "fr" -> 15, "es" -> 15)

  /** A generator for one named sub-stream of the run's inputs. */
  def rng(seed: Long, stream: String, index: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ stream.hashCode.toLong * 7919L ^ index * 104729L)

  private def lang(r: SplittableRandom): String = {
    var x = r.nextInt(100)
    Langs.find { case (_, w) => x -= w; x < 0 }.get._1
  }

  def randomText(r: SplittableRandom): String =
    Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  /** `n` sf0.1-shaped documents with ids `firstId` onwards. */
  def baseDocs(seed: Long, n: Int, firstId: Long = 0L): Vector[Doc] = {
    val r = rng(seed, "base")
    Vector.tabulate(n) { i =>
      val id = firstId + i
      Doc(id, randomText(r), lang(r), s"src${id % 20}")
    }
  }

  /** Rewrites `share` of the words of `text` (at least one), so the result
    * is a near-duplicate and never an exact one. */
  def perturb(r: SplittableRandom, text: String, share: Double): String = {
    val ws = text.split(" ")
    val k = math.max(1, math.round(ws.length * share).toInt)
    (0 until k).foreach { _ =>
      val i = r.nextInt(ws.length)
      val old = ws(i)
      var w = old
      while (w == old) w = Vocab(r.nextInt(Vocab.length))
      ws(i) = w
    }
    ws.mkString(" ")
  }

  /** `copies` versions of every base document: copy 0 is the original and
    * every later copy rewrites `share` of its words. Copy c of base doc i
    * gets id c·|base| + i and another source, so near-duplicate clusters
    * span sources. */
  def inflate(seed: Long, base: Vector[Doc], copies: Int, share: Double): Vector[Doc] = {
    val r = rng(seed, "inflate")
    val n = base.size.toLong
    (0 until copies).toVector.flatMap { c =>
      base.map { d =>
        if (c == 0) d
        else Doc(c * n + d.docId, perturb(r, d.text, share), d.lang,
          s"src${(d.docId + c) % 20}")
      }
    }
  }

  /** Seeded permutation. */
  def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): Vector[T] = {
    val p = Array.range(0, xs.size)
    var i = p.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p.toVector.map(xs)
  }

  /** `k` distinct seeded picks from `xs`. */
  def sample[T](r: SplittableRandom, xs: IndexedSeq[T], k: Int): Vector[T] =
    shuffle(r, xs).take(k)

  /** Order-sensitive digest of documents, to prove generation repeats. */
  def digest(docs: Seq[Doc]): Long = {
    val crc = new java.util.zip.CRC32()
    docs.foreach { d =>
      crc.update(s"${d.docId}\t${d.text}\t${d.lang}\t${d.source}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    crc.getValue
  }
}
