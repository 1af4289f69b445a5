package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, DedupResolve, IncrementalDedup}
import graft.runtime.IndexStatePublisher
import graft.tools.MakeScaleCorpus

/** The maintained MinHash index with writes beside reads. Set-up builds
  * and writes the base index over 90 % of a seeded ×R corpus
  * (`MakeScaleCorpus.replicateDocs` over seeded base documents). Each cycle
  * runs, in a seeded order, one append of a small delta (the held-out
  * documents first, then fresh ones, half of them near-duplicates of live
  * documents), one takedown of about 1 % of the live documents, and one
  * read-only probe (`readIndex` + `appendKept` of a candidate batch, with
  * no publish). The region ends with one `compactIndex`.
  */
final class IndexChurn(spark: SparkSession, dir: String, seed: Long, tracer: Tracer) extends Workload {
  import IndexChurn._
  import spark.implicits._

  private val corpusDir = s"$dir/corpus"
  private var indexDir = ""
  private val texts = mutable.Map.empty[Long, String]
  private val live = mutable.TreeSet.empty[Long]
  private val deleted = mutable.TreeSet.empty[Long]
  private val pending = mutable.Queue.empty[Long]
  private var fresh: Gen.Text = _
  private var rnd: SplittableRandom = _
  private var nextId = 0L
  private var layout: Seq[String] = Nil
  private var lastKept: Set[Long] = Set.empty

  def setup(rep: Int): String = {
    Fs.rm(dir)
    texts.clear(); live.clear(); deleted.clear(); pending.clear()
    appendedBytes = 0L
    fresh = new Gen.Text(seed ^ 0xf4e5L)
    rnd = new SplittableRandom(seed ^ 0xc4c1eL)
    nextId = FreshIds
    val (rows, held, digest) = generate(seed, s"$dir/base")
    layout = Gen.layoutErrors(rows.map(_._1).toSeq, NBase, Reps)
    rows.foreach { case (id, t) => texts(id) = t }
    pending ++= rows.map(_._1).filter(held)
    live ++= rows.map(_._1).filterNot(held)
    write(live.toSeq, corpusDir, "overwrite")
    indexDir = s"$dir/index-$rep"
    IncrementalDedup.writeIndex(IncrementalDedup.buildIndex(spark.read.parquet(corpusDir)), indexDir,
      nBuckets = Buckets)
    digest
  }

  def otherSeedDigest(): String = generate(seed + 1, s"$dir/other")._3

  /** The seeded inputs: the ×R corpus (`MakeScaleCorpus.replicateDocs` over
    * seeded base documents written to `base`), the ids held out of the base
    * index, and the digest of both.
    */
  private def generate(s: Long, base: String): (Array[(Long, String)], Set[Long], String) = {
    Gen.baseDocs(new Gen.Text(s), NBase, Chars).map { case (id, t) => (id, t, "en", "perfbench", t.length) }
      .toDF(Cols: _*).coalesce(1).write.mode("overwrite").parquet(s"$base/documents.parquet")
    val rows = MakeScaleCorpus.replicateDocs(spark, base, Reps, skewBlock = false)
      .select("doc_id", "text").orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    val pick = new SplittableRandom(s ^ 0x401dL)
    val held = rows.map(_._1).filter(_ => pick.nextDouble() < HoldOut).toSet
    val d = new Gen.Digest
    rows.foreach { case (id, t) => d.add(s"$id\t$t${if (held(id)) "\theld" else ""}") }
    (rows, held, d.hex)
  }

  private def write(ids: Seq[Long], path: String, mode: String): Unit =
    ids.map(id => (id, texts(id), "en", "perfbench", texts(id).length)).toDF(Cols: _*)
      .coalesce(1).write.mode(mode).parquet(path)

  private def liveDocs: DataFrame = {
    val docs = spark.read.parquet(corpusDir)
    if (deleted.isEmpty) docs else docs.filter(!col("doc_id").isin(deleted.toSeq: _*))
  }

  /** `n` documents never seen before: half near-duplicates of live ones. */
  private def freshDocs(n: Int): Seq[Long] = {
    val liveArr = live.toArray
    (0 until n).map { i =>
      val id = nextId
      nextId += 1
      texts(id) = if (i % 2 == 0) fresh.nearDup(texts(liveArr(rnd.nextInt(liveArr.length)))) else fresh.doc(Chars._1, Chars._2)
      id
    }
  }

  private def bytesOf(ids: Iterable[Long]): Long = ids.iterator.map(texts(_).length.toLong).sum

  /** One full cycle. Cycle times keep falling while the JIT compiles the
    * engine (about 13, 12, 10, 9.5 s for the first four), so the region
    * times at least two cycles and reports their median. It starts from the state
    * the warm-up leaves.
    */
  def warmup(): Unit = cycle(-1).foreach { op =>
    op.prep()
    op.run().check().foreach(p => throw new IllegalStateException(s"warm-up ${op.kind}: $p"))
  }

  override val minCycles = 2

  val tracedCycles = 2

  /** The cycle's inputs are chosen here, in a seeded order of the kinds. */
  def cycle(i: Int): Seq[Op] = {
    val ops = Seq(append(i), delete(i), probe(i))
    ops.indices.map(j => (rnd.nextDouble(), j)).sorted.map(p => ops(p._2))
  }

  /** Snapshot of the index directory, taken in `prep`; `written` diffs it. */
  private var before: Map[String, (Long, Long)] = Map.empty
  private def snapshot(): Unit = before = Fs.listing(indexDir)
  private def writtenSince(): (Long, Long) = Fs.written(before, Fs.listing(indexDir))
  private var appendedBytes = 0L

  private def append(i: Int): Op = {
    val n = math.max(1, (live.size * DeltaFrac).toInt)
    val held = (0 until n).flatMap(_ => pending.removeHeadOption())
    val delta = held ++ freshDocs(n - held.size)
    Op("append", bytesOf(delta), () => {
      val kept = tracer.span("llm.append") {
        IncrementalDedup.appendToIndex(spark, indexDir, liveDocs, spark.read.parquet(s"$dir/delta-$i"))
          .collect().map(_.getLong(0)).toSet
      }
      Done(() => { lastKept = kept; keptProblem(kept, live.toSet) }, () => writtenSince())
    }, prep = () => {
      write(delta, s"$dir/delta-$i", "overwrite")
      write(delta, corpusDir, "append")
      live ++= delta
      appendedBytes += bytesOf(delta)
      snapshot()
    })
  }

  private def delete(i: Int): Op = {
    val liveArr = live.toArray
    val n = math.max(1, (live.size * DeleteFrac).toInt)
    val ids = Iterator.continually(liveArr(rnd.nextInt(liveArr.length))).distinct.take(n).toSeq.sorted
    Op("delete", bytesOf(ids), () => {
      val labels = tracer.span("llm.delete") {
        IncrementalDedup.deleteFromIndex(spark, indexDir, ids.toDF("doc_id"))
      }
      Done(() => {
        val labelled = labels.select("id").collect().map(_.getLong(0)).toSet
        val back = ids.filter(labelled)
        if (back.isEmpty) None else Some(s"deleted ids still labelled: ${back.take(5).mkString(",")}")
      }, () => writtenSince())
    }, prep = () => {
      live --= ids
      deleted ++= ids
      snapshot()
    })
  }

  private def probe(i: Int): Op = {
    val n = math.max(1, (live.size * DeltaFrac).toInt)
    val batch = freshDocs(n)
    Op("read", bytesOf(batch), () => {
      val kept = tracer.span("llm.read") {
        val idx = IncrementalDedup.readIndex(spark, indexDir)
        val probeDf = spark.read.parquet(s"$dir/probe-$i")
        IncrementalDedup.appendKept(liveDocs.unionByName(probeDf), idx, probeDf)
          .collect().map(_.getLong(0)).toSet
      }
      Done(() => keptProblem(kept, live.toSet ++ batch), () => writtenSince())
    }, prep = () => {
      write(batch, s"$dir/probe-$i", "overwrite")
      snapshot()
    })
  }

  override def closing: Option[Op] = Some(Op("compact", 0L, () => {
    tracer.span("llm.compact")(IncrementalDedup.compactIndex(spark, indexDir))
    Done(() => None, () => writtenSince())
  }, prep = () => snapshot()))

  private def keptProblem(kept: Set[Long], allowed: Set[Long]): Option[String] = {
    val stray = kept.diff(allowed)
    if (kept.isEmpty) Some("empty kept set")
    else if (stray.nonEmpty) Some(s"kept ids outside the live documents: ${stray.take(5).mkString(",")}")
    else None
  }

  /** The index's kept set: live documents minus non-representatives. */
  private def indexKept(): Set[Long] = {
    val losers = IncrementalDedup.readIndex(spark, indexDir).labels
      .filter(col("id") =!= col("cluster")).select("id").collect().map(_.getLong(0)).toSet
    live.toSet.diff(losers)
  }

  private var fullRerun: Set[Long] = Set.empty

  /** Incremental ≡ full rerun: the maintained index keeps exactly what the
    * batch pipeline keeps over the surviving documents.
    */
  private def equivalence(kept: Set[Long]): Option[String] =
    if (kept == fullRerun) None
    else Some(s"index keeps ${kept.size} ids, a full rerun over the survivors ${fullRerun.size} " +
      s"(${kept.diff(fullRerun).size} extra, ${fullRerun.diff(kept).size} missing)")

  def finalCheck(): Seq[Option[String]] = {
    write(live.toSeq, s"$dir/survivors/documents.parquet", "overwrite")
    fullRerun = DedupResolve.corpusDedupPipeline(spark, s"$dir/survivors").collect().map(_.getLong(0)).toSet
    lastKept = indexKept()
    Seq(
      if (layout.isEmpty) None else Some(layout.mkString("; ")),
      equivalence(lastKept),
      if (IndexStatePublisher.current(indexDir).pathOpt("deleted").isEmpty) None
      else Some("compaction left the tombstones in the manifest"))
  }

  def selfTests(): Seq[(String, Boolean)] = Seq(
    "kept id dropped" -> equivalence(lastKept - lastKept.max).nonEmpty,
    "deleted id kept" -> equivalence(lastKept + deleted.head).nonEmpty,
    "stray kept id" -> keptProblem(lastKept + deleted.head, live.toSet).nonEmpty)

  /** Files and bytes of the generation readers see now. */
  private def liveGeneration(): (Long, Long, Long) = {
    val m = IndexStatePublisher.current(indexDir)
    val paths = m.entries.toSeq.flatMap { case (name, rel) =>
      if (m.epochs.contains(name)) m.epochPaths(indexDir, name) else Seq(s"$indexDir/$rel")
    } :+ s"$indexDir/meta"
    val (files, bytes) = Fs.bytesUnder(paths)
    (files, bytes, m.gen)
  }

  private def amps(ops: Seq[OpResult]): (Double, Double) = {
    val written = ops.filter(o => Set("append", "delete", "compact")(o.kind)).map(_.bytesWritten).sum
    (written.toDouble / appendedBytes, liveGeneration()._2.toDouble / bytesOf(live))
  }

  def details(ops: Seq[OpResult]): Seq[(String, Double, String)] = {
    val (w, sp) = amps(ops)
    Seq("append", "delete", "read").map { kind =>
      (s"${kind}_p50_s", Main.median(ops.filter(o => o.kind == kind && o.cycle >= 0).map(_.wall)), "s")
    } ++ Seq(("write_amp", w, "ratio"), ("space_amp", sp, "ratio"),
      ("live_docs", live.size.toDouble, "count"))
  }

  /** Besides the index's own figures, the batch pipeline's layers measured
    * over the surviving corpus after the region: a MinHash pass alone, the
    * LSH candidate and verified pair counts, and the resolve rounds.
    */
  def layerMetrics(ctx: LayerCtx): Map[String, Double] = {
    val (w, sp) = amps(ctx.ops)
    val (files, bytes, gen) = liveGeneration()
    val survivors = s"$dir/survivors"
    val docs = spark.read.parquet(s"$survivors/documents.parquet")
    val mh = ctx.traced("functions.minhash", () =>
      docs.select(graft.functions.MinHashSig(col("text"), 5, 32)).write.format("noop").mode("overwrite").save())
    val candidates = Dedup.minhashLsh(spark, survivors, 32, 8).count()
    val pairs = Dedup.lshVerifiedPairs(spark, survivors).select("a_id", "b_id").localCheckpoint()
    val verified = pairs.count()
    val (_, rounds) = DedupResolve.resolveClustersCounted(pairs)
    Map("runtime.index_bytes" -> bytes.toDouble, "runtime.index_files" -> files.toDouble,
      "runtime.generations" -> gen.toDouble, "runtime.write_amp" -> w, "runtime.space_amp" -> sp,
      "functions.minhash_rows_per_cpu_s" -> (if (mh.cpuNs > 0) live.size / (mh.cpuNs / 1e9) else 0.0),
      "llm.lsh_candidates" -> candidates.toDouble,
      "llm.lsh_verified" -> verified.toDouble,
      "llm.verify_yield" -> (if (candidates > 0) verified.toDouble / candidates else 0.0),
      "llm.resolve_rounds" -> rounds.toDouble)
  }
}

object IndexChurn {
  val NBase = 600
  val Chars = (350, 650)
  val Reps = 2
  val HoldOut = 0.10
  val DeltaFrac = 0.015
  val DeleteFrac = 0.01
  val Buckets = 8
  /** Ids of documents generated after set-up start here, above every ×R id. */
  val FreshIds = 900000000L
  val Cols = Seq("doc_id", "text", "lang", "source", "n_chars")
}
