package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import graft.tools.MakeScaleCorpus

/** Seeded input generators. Every byte the engine reads is produced here
  * from the workload seed, and the digest of those bytes is printed with
  * the metrics: the same seed gives the same digest, another seed another.
  */
object Gen {

  /** SHA-256 over a stream of lines, printed as its first 12 bytes. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(line: String): Unit = { md.update(line.getBytes(UTF_8)); md.update('\n'.toByte) }
    def hex: String = md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  def word(rnd: SplittableRandom): String =
    Array.fill(2 + rnd.nextInt(8))(Letters.charAt(rnd.nextInt(26))).mkString

  /** Documents over [a-z] and spaces, the alphabet the per-rep cipher of
    * [[MakeScaleCorpus]] permutes. Word choice is skewed (a few words are
    * common) so documents share shingles the way natural text does.
    */
  final class Text(seed: Long) {
    val rnd = new SplittableRandom(seed)
    private val vocab = Array.fill(4000)(word(rnd))

    def doc(minChars: Int, maxChars: Int): String = {
      val target = minChars + rnd.nextInt(maxChars - minChars + 1)
      val sb = new StringBuilder
      while (sb.length < target) {
        val u = rnd.nextDouble()
        sb.append(vocab((u * u * vocab.length).toInt)).append(' ')
      }
      sb.toString.trim
    }

    /** Two single-character edits, as MakeScaleCorpus's injected twins
      * have: about 10 of about 500 five-character shingles differ, so the
      * pair's Jaccard similarity is near 0.95.
      */
    def nearDup(text: String): String = {
      val a = text.toCharArray
      Seq(a.length / 3, a.length * 2 / 3).foreach { i =>
        val c = Letters.charAt(rnd.nextInt(26))
        a(i) = if (c == a(i)) 'q' else c
      }
      new String(a)
    }
  }

  /** A base corpus of `n` documents with ids 0 until n: most are fresh,
    * 10 % are near-duplicates and 4 % exact copies of an earlier document,
    * so the dedup pipelines have clusters to resolve.
    */
  def baseDocs(t: Text, n: Int, chars: (Int, Int)): IndexedSeq[(Long, String)] = {
    require(n < MakeScaleCorpus.InjectOffset, s"base corpus of $n ids would collide with twin ids")
    val texts = new Array[String](n)
    (0 until n).foreach { i =>
      val r = if (i < 10) 1.0 else t.rnd.nextDouble()
      texts(i) =
        if (r < 0.10) t.nearDup(texts(t.rnd.nextInt(i)))
        else if (r < 0.14) texts(t.rnd.nextInt(i))
        else t.doc(chars._1, chars._2)
    }
    texts.indices.map(i => (i.toLong, texts(i)))
  }

  private def rep(id: Long): Long = id / MakeScaleCorpus.Stride

  /** Violations of the ×R layout among `ids`: every rep holds the same
    * number of documents, and a twin exactly at `+ InjectOffset` of every
    * `InjectEvery`-th base id and nowhere else.
    */
  def layoutErrors(ids: Seq[Long], nBase: Int, reps: Int): Seq[String] = {
    val byRep = ids.groupBy(rep)
    val wantTwins = (0 until nBase).filter(_ % MakeScaleCorpus.InjectEvery == 0)
      .map(_ + MakeScaleCorpus.InjectOffset).toSet
    (0 until reps).flatMap { r =>
      val local = byRep.getOrElse(r.toLong, Nil).map(_ - r * MakeScaleCorpus.Stride)
      val twins = local.filter(_ >= MakeScaleCorpus.InjectOffset).toSet
      val bodies = local.filter(_ < MakeScaleCorpus.InjectOffset).toSet
      Seq(
        if (bodies == (0L until nBase).toSet) None else Some(s"rep $r: body ids differ from the base ids"),
        if (twins == wantTwins) None else Some(s"rep $r: injected twins not at every ${MakeScaleCorpus.InjectEvery}th base id")
      ).flatten
    } ++ (if (byRep.keySet == (0 until reps).map(_.toLong).toSet) Nil else Seq("ids outside reps 0..R-1"))
  }

  /** Zipf(s) sampler over keys 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double, rnd: SplittableRandom) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      var acc = 0.0
      val c = new Array[Double](n)
      var i = 0
      while (i < n) { acc += w(i); c(i) = acc; i += 1 }
      c.map(_ / acc)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
