package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.mr.{BuiltinSteps, MrPipeline, MrRunner}

/** gomrjob's own programming model through `MrRunner.run`, on seeded
  * newline-delimited input. Two job kinds put the map-side combiner's
  * cache on both sides of its capacity:
  *   - lowcard: field frequency over JSON log lines, tens of distinct keys
  *     (they fit the combiner);
  *   - highcard: sum-by-key then a count histogram over `user\tamount`
  *     lines with gzip output, Zipf keys over a space far larger than the
  *     combiner (it thrashes, and the shuffle is about the input's size).
  * Each cycle runs one job of each kind.
  */
final class MrLogs(spark: SparkSession, dir: String, seed: Long, tracer: Tracer) extends Workload {
  import MrLogs._

  /** What the generator knows a job must produce. */
  final case class Expected(output: Map[String, String], invalid: Long, bytes: Long, mapRecords: Long)

  private var low: Expected = _
  private var high: Expected = _
  private val lastAnswers = mutable.Map.empty[String, (Map[String, String], Long)]

  def setup(rep: Int): String = {
    Fs.rm(s"$dir/in")
    val d = new Gen.Digest
    low = genLow(seed, Some(s"$dir/in/lowcard"), d)
    high = genHigh(seed, Some(s"$dir/in/highcard"), d)
    d.hex
  }

  def otherSeedDigest(): String = {
    val d = new Gen.Digest
    genLow(seed + 1, None, d)
    genHigh(seed + 1, None, d)
    d.hex
  }

  /** Job times keep falling for about five cycles while the JIT compiles
    * the engine; the timed region starts after four of them.
    */
  def warmup(): Unit = (1 to 4).foreach(c => cycle(-c).foreach { op =>
    op.prep()
    op.run().check().foreach(p => throw new IllegalStateException(s"warm-up ${op.kind}: $p"))
  })

  val tracedCycles = 4

  def cycle(i: Int): Seq[Op] = Seq(
    job("lowcard", i, low, Seq(new BuiltinSteps.FieldFrequencyStep()), gzip = false,
      counter = ("example", "invalid line")),
    job("highcard", i, high, Seq(BuiltinSteps.Sum, BuiltinSteps.CountHistogramStep), gzip = true,
      counter = ("unknown", "invalid line - no tab")))

  private def job(kind: String, i: Int, want: Expected, steps: Seq[graft.mr.MrStep], gzip: Boolean,
      counter: (String, String)): Op = {
    val out = s"$dir/out/$kind-$i"
    Op(kind, want.bytes, () => {
      val (path, counters) = tracer.span("mr.run") {
        MrRunner(name = s"$kind-$i", inputFiles = Seq(s"$dir/in/$kind/part-*"),
          steps = steps, output = Some(out), compressOutput = gzip, tmpBase = s"$dir/tmp").run(spark)
      }
      Done(
        check = () => {
          val got = parseOutput(Fs.partLines(path))
          val invalid = counters.get(counter._1, counter._2)
          lastAnswers(kind) = (got, invalid)
          Fs.rm(out)
          checkJob(got, invalid, want)
        },
        written = () => Fs.bytesUnder(Seq(path)))
    }, prep = () => Fs.rm(out))
  }

  private def checkJob(got: Map[String, String], invalid: Long, want: Expected): Option[String] =
    if (got != want.output) {
      val bad = (got.keySet ++ want.output.keySet).find(k => got.get(k) != want.output.get(k))
      Some(s"output differs from the generator's tallies at key ${bad.getOrElse("?")}: " +
        s"got ${bad.flatMap(got.get)}, want ${bad.flatMap(want.output.get)}")
    } else if (invalid != want.invalid) Some(s"invalid-line counter $invalid, generator planted ${want.invalid}")
    else None

  def finalCheck(): Seq[Option[String]] = Nil

  def selfTests(): Seq[(String, Boolean)] = Seq("lowcard" -> low, "highcard" -> high).flatMap { case (kind, want) =>
    val (got, invalid) = lastAnswers.getOrElse(kind, (want.output, want.invalid))
    val (k, v) = got.head
    Seq(
      s"$kind output line altered" -> checkJob(got.updated(k, v + "0"), invalid, want).nonEmpty,
      s"$kind output line dropped" -> checkJob(got - k, invalid, want).nonEmpty,
      s"$kind counter off by one" -> checkJob(got, invalid + 1, want).nonEmpty)
  }

  def details(ops: Seq[OpResult]): Seq[(String, Double, String)] = Seq("lowcard", "highcard").flatMap { kind =>
    val k = ops.filter(o => o.kind == kind && o.cycle >= 0)
    Seq((s"${kind}_mb_s", k.map(_.userBytes).sum / 1e6 / k.map(_.wall).sum, "MB/s"),
      (s"${kind}_p50_s", Main.median(k.map(_.wall)), "s"))
  }

  def layerMetrics(ctx: LayerCtx): Map[String, Double] = {
    def ratio(kind: String, want: Expected) = {
      val n = ctx.ops.count(o => o.kind == kind && o.traced)
      if (n == 0) 0.0 else ctx.perKind(kind).shuffleRecords.toDouble / (want.mapRecords * n)
    }
    Map(
      "mr.map_records" -> (low.mapRecords + high.mapRecords).toDouble,
      "mr.combine_ratio.lowcard" -> ratio("lowcard", low),
      "mr.combine_ratio.highcard" -> ratio("highcard", high))
  }

  /** `k\tv` output lines as a map; a repeated key is kept twice, so it
    * cannot hide.
    */
  private def parseOutput(lines: Seq[String]): Map[String, String] = {
    val kv = lines.map { l =>
      val i = l.indexOf('\t')
      if (i < 0) (l, "<no tab>") else (l.substring(0, i), l.substring(i + 1))
    }
    val m = kv.toMap
    if (m.size == kv.size) m else m + ("<duplicate key>" -> kv.size.toString)
  }

  /** Writes to `Files` files round-robin when `out` is given; always digests. */
  private final class Sink(out: Option[String], d: Gen.Digest) {
    private val ws = out.toSeq.flatMap { o =>
      Files.createDirectories(Paths.get(o))
      (0 until InputFiles).map(i => new BufferedWriter(new FileWriter(s"$o/part-$i.txt"), 1 << 16))
    }
    var bytes = 0L
    private var n = 0
    def line(s: String): Unit = {
      d.add(s)
      bytes += s.length + 1
      if (ws.nonEmpty) { val w = ws(n % ws.size); w.write(s); w.write('\n') }
      n += 1
    }
    def close(): Unit = ws.foreach(_.close())
  }

  private def genLow(seed: Long, out: Option[String], d: Gen.Digest): Expected = {
    val rnd = new SplittableRandom(seed)
    val keys = Iterator.continually(Array.fill(5)(('a' + rnd.nextInt(26)).toChar).mkString)
      .distinct.take(LowKeys).toArray
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var valid, invalid, mapRecords = 0L
    val sink = new Sink(out, d)
    (0 until LowLines).foreach { n =>
      if (rnd.nextInt(InvalidEvery) == 0) {
        invalid += 1
        sink.line(s"#garbled record $n {")
      } else {
        val picked = mutable.LinkedHashSet.empty[String]
        val m = 3 + rnd.nextInt(4)
        while (picked.size < m) { val u = rnd.nextDouble(); picked += keys((u * u * keys.length).toInt) }
        picked.foreach(counts(_) += 1)
        valid += 1
        mapRecords += m + 1 // one record per field, plus lines_read
        sink.line(picked.map { k =>
          val v = if (rnd.nextBoolean()) rnd.nextInt(1000).toString else "\"" + Gen.word(rnd) + "\""
          "\"" + k + "\":" + v
        }.mkString("{", ",", "}"))
      }
    }
    sink.close()
    val output = counts.map { case (k, c) => ("\"" + k + "\"", c.toString) }.toMap +
      ("\"lines_read\"" -> valid.toString)
    Expected(output, invalid, sink.bytes, mapRecords)
  }

  private def genHigh(seed: Long, out: Option[String], d: Gen.Digest): Expected = {
    val rnd = new SplittableRandom(seed ^ 0x6869676863L)
    val zipf = new Gen.Zipf(HighKeys, ZipfS, rnd)
    val sums = new Array[Long](HighKeys)
    val seen = new Array[Boolean](HighKeys)
    var valid, invalid = 0L
    val sink = new Sink(out, d)
    (0 until HighLines).foreach { n =>
      if (rnd.nextInt(InvalidEvery) == 0) {
        invalid += 1
        sink.line(s"notab record $n")
      } else {
        val k = zipf.next()
        val amount = 1 + rnd.nextInt(100)
        sums(k) += amount
        seen(k) = true
        valid += 1
        sink.line(s"u$k\t$amount")
      }
    }
    sink.close()
    val users = seen.count(identity)
    val hist = sums.indices.filter(seen(_)).groupBy(sums(_)).map { case (s, ks) => (s.toString, ks.size.toString) }
    // step 1 maps every valid line; step 2 maps one line per user
    Expected(hist, invalid, sink.bytes, valid + users)
  }
}

object MrLogs {
  val InputFiles = 4
  /** 40 field names: tens of keys, well inside the combiner's capacity. */
  val LowKeys = 40
  val LowLines = 160000
  val HighLines = 900000
  /** Key space 100× the combiner's capacity. */
  val HighKeys = 100 * MrPipeline.DefaultCombinerCapacity
  val ZipfS = 0.8
  /** One malformed line in this many is planted in each input. */
  val InvalidEvery = 250
}
