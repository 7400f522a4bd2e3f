package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input is a pure function of the run
  * seed and the item's index, so a seed names one input set exactly. */
object Gen {
  /** Independent stream per (seed, family, index). */
  def rng(seed: Long, family: Long, idx: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ family * 0xBF58476D1CE4E5B9L ^ idx * 0x94D049BB133111EBL)

  /** Zipf(s) over ranks 0 until n, sampled by binary search on the CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def word(r: SplittableRandom, vocab: Int): String = s"w${r.nextInt(vocab)}"

  // ---- trending: tweets as JSON lines (the Kafka value shape) ---------

  object Tweets {
    val T0 = 1767225600000L           // 2026-01-01T00:00:00Z, event-time origin
    val EventStepMs = 50L             // event time advances 50 ms per event
    val CorruptShare = 0.01
    val DisorderShare = 0.03
    val MaxDisorderMs = 200000L       // < the 300 s watermark: nothing is dropped
    val Hashtags = 300
    private val tagZipf = new Zipf(Hashtags, 1.1)
    private val langs = Array("en", "en", "en", "es", "ja", "pt", "fr")
    private val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX").withZone(java.time.ZoneOffset.UTC)

    /** File k of the stream: events first until first + n. */
    def file(seed: Long, k: Long, first: Long, n: Int): String = {
      val r = rng(seed, 1, k)
      val sb = new StringBuilder(n * 96)
      var j = 0
      while (j < n) {
        val i = first + j
        if (r.nextDouble() < CorruptShare)
          sb ++= s"""{"text": "#tag${tagZipf.sample(r)} truncated""" // corrupt: unterminated
        else {
          var t = T0 + i * EventStepMs
          if (r.nextDouble() < DisorderShare) t -= 1 + r.nextLong(MaxDisorderMs)
          val words = Array.fill(5 + r.nextInt(6))(word(r, 2000))
          (0 until 1 + r.nextInt(3)).foreach(_ =>
            words(r.nextInt(words.length)) = s"#tag${tagZipf.sample(r)}")
          sb ++= s"""{"text": "${words.mkString(" ")}", "createdAt": "${fmt.format(
            java.time.Instant.ofEpochMilli(t))}", "lang": "${langs(r.nextInt(langs.length))}"}"""
        }
        sb += '\n'
        j += 1
      }
      sb.toString
    }
  }

  // ---- lakehouse: epoch appends and upsert sets ------------------------

  final case class LakeRow(id: Long, grp: Int, v: Long, payload: String)

  object Lake {
    private def row(r: SplittableRandom, id: Long): LakeRow =
      LakeRow(id, r.nextInt(16), r.nextInt(1000000).toLong,
        Iterator.fill(4)(java.lang.Long.toString(r.nextLong() & Long.MaxValue, 36)).mkString("-"))

    /** Append op `op`: `n` fresh rows with ids firstId until firstId + n. */
    def append(seed: Long, op: Long, firstId: Long, n: Int): Seq[LakeRow] = {
      val r = rng(seed, 2, op)
      (0 until n).map(j => row(r, firstId + j))
    }

    /** Upsert op `op` over a table holding ids 0 until nextId: `nUpd`
      * distinct existing ids get new values, plus `nNew` inserts. */
    def upsert(seed: Long, op: Long, nextId: Long, nUpd: Int, nNew: Int): Seq[LakeRow] = {
      val r = rng(seed, 3, op)
      val upd = Iterator.continually(r.nextLong(nextId)).distinct.take(nUpd).toSeq
      upd.map(id => row(r, id)) ++ (0 until nNew).map(j => row(r, nextId + j))
    }
  }

  // ---- ingest_dedup: documents and embeddings --------------------------

  object Docs {
    val Words = 40
    val Vocab = 5000
    val Dim = 32
    /** Ids the program's band index counts as standing corpus
      * (DedupQueries.baseBandIndex keeps doc_id % 5 != 4). */
    def corpusId(j: Int): Long = j / 4 * 5L + j % 4

    private def text(r: SplittableRandom): Array[String] = Array.fill(Words)(word(r, Vocab))
    private def vec(r: SplittableRandom): Array[Float] = Array.fill(Dim)(r.nextGaussian().toFloat)

    def corpus(seed: Long, n: Int): (IndexedSeq[(Long, String)], IndexedSeq[(Long, Array[Float])]) = {
      val r = rng(seed, 4, 0)
      val docs = (0 until n).map(j => corpusId(j) -> text(r).mkString(" "))
      val embs = (0 until n).map(j => j.toLong -> vec(r))
      (docs, embs)
    }

    final case class Batch(docs: Seq[(Long, String)], embs: Seq[(Long, Array[Float])],
                           plantedText: Seq[(Long, Long)], plantedEmb: Seq[(Long, Long)])

    /** Incoming batch `op`: `size` documents and vectors, of which
      * `exact` are exact copies and `near` near copies of corpus items. */
    def batch(seed: Long, op: Long, size: Int, exact: Int, near: Int,
              docs: IndexedSeq[(Long, String)], embs: IndexedSeq[(Long, Array[Float])]): Batch = {
      val r = rng(seed, 5, op)
      val base = 100000000L + op * 10000L
      val d = Seq.newBuilder[(Long, String)]; val e = Seq.newBuilder[(Long, Array[Float])]
      val pt = Seq.newBuilder[(Long, Long)]; val pe = Seq.newBuilder[(Long, Long)]
      (0 until size).foreach { j =>
        val id = base + j
        if (j < exact + near) {
          val (oldDoc, oldText) = docs(r.nextInt(docs.size))
          val toks = oldText.split(" ")
          // one substituted word touches 3 of 38 word-3-shingles: J = 35/41 > 0.8
          if (j >= exact) toks(3 + r.nextInt(Words - 6)) = s"x${r.nextInt(Vocab)}"
          d += id -> toks.mkString(" "); pt += id -> oldDoc
          val (oldVec, v) = embs(r.nextInt(embs.size))
          e += id -> (if (j < exact) v.clone() else v.map(x => (x + 0.1 * r.nextGaussian()).toFloat))
          pe += id -> oldVec
        } else {
          d += id -> text(r).mkString(" ")
          e += id -> vec(r)
        }
      }
      Batch(d.result(), e.result(), pt.result(), pe.result())
    }
  }
}
