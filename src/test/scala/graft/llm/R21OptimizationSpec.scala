package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mr.TestSession

/** Focused pins for the round-21 optimization internals: the enriched
  * [[graft.runtime.Par]] failure contract (suppressed siblings, also on
  * the coordinator-interrupt path), the resolve-before-write delete
  * paths (deleteVectors / deleteFromIndex return labels identical to the
  * published artifact), the CpSlot-compatible checkpoint clamp (clamped
  * frames keep the bare LogicalRDD plan the BPE release machinery
  * pattern-matches), and the bench stdout line's escaped env_note budget.
  */
class R21OptimizationSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("Par.run: sibling failures are attached as suppressed, not swallowed") {
    val e = intercept[RuntimeException] {
      graft.runtime.Par.run(
        () => throw new RuntimeException("first"),
        () => { Thread.sleep(30); throw new IllegalStateException("second") },
        () => ())
    }
    val all = (e.getMessage +: e.getSuppressed.toSeq.map(_.getMessage)).toSet
    assert(all == Set("first", "second"),
      s"one failure rethrown, the other suppressed; got $all")

    // the coordinator interrupted while a thunk blocks: the workers are
    // interrupted AND re-joined before the rethrow, and the failures they
    // left behind ride along as suppressed
    val started = new java.util.concurrent.CountDownLatch(1)
    @volatile var worker: Thread = null
    @volatile var outcome: Throwable = null
    val coordinator = new Thread(() => {
      try graft.runtime.Par.run(
        () => { worker = Thread.currentThread(); started.countDown(); Thread.sleep(60000) },
        () => ())
      catch { case t: Throwable => outcome = t }
    })
    coordinator.start()
    started.await()
    coordinator.interrupt()
    coordinator.join(30000)
    assert(!coordinator.isAlive, "the interrupted coordinator must return")
    assert(outcome.isInstanceOf[InterruptedException], s"got $outcome")
    assert(!worker.isAlive, "the blocked worker must be re-joined, not orphaned")
    assert(outcome.getSuppressed.exists(_.isInstanceOf[InterruptedException]),
      "the worker's failure must be attached as suppressed")
  }

  test("Bench env_note: escaped first, then cut to 60 chars on whole escapes") {
    import graft.Bench.jescWithin
    assert(jescWithin("plain note", 60) == "plain note")
    // 59 plain chars + a quote: the 2-char escape does not fit whole
    assert(jescWithin("a" * 59 + "\"", 60) == "a" * 59)
    // every char escapes to 6: the budget holds 10 whole escapes
    val ctl = jescWithin("\u0001" * 100, 60)
    assert(ctl == "\\u0001" * 10)
    // a surrogate pair is never split
    assert(jescWithin("a" * 59 + "\uD83D\uDE00", 60) == "a" * 59)
    // whole escapes only: the cut is valid JSON and decodes to a prefix
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq("\"" * 100, "\\" * 100, "x\ny" * 40, "a\"" * 40).foreach { raw =>
      val out = jescWithin(raw, 60)
      assert(out.length <= 60, out)
      assert(raw.startsWith(json.readTree("\"" + out + "\"").asText), out)
    }
  }

  test("deleteVectors: returned labels equal the published artifact (resolve-before-write)") {
    val sf = "/root/testdata/sf0.001"
    val all = graft.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
      .transform(graft.runtime.Ckpt.eager)
    val corpusE = all
      .withColumn("sigs", graft.functions.SignLshBuckets(col("embedding"), 8, 4))
      .transform(graft.runtime.Ckpt.eager)
    val pairs = IncrementalSemantic.corpusPairs(corpusE).transform(graft.runtime.Ckpt.eager)
    val tmp = java.nio.file.Files.createTempDirectory("semdelr21").toString
    try {
      IncrementalSemantic.writeIndex(corpusE, DedupResolve.resolveClusters(pairs),
        tmp, nBuckets = 8, pairs = Some(pairs))
      val ret = IncrementalSemantic.deleteVectors(spark, tmp,
        all.where(col("vec_id") % 7 === 3).select(col("vec_id")))
      val m = graft.runtime.IndexStatePublisher.current(tmp)
      assert(m.gen == 1 && m.pathOpt("deleted").nonEmpty,
        "delete must advance the manifest and record tombstones")
      val onDisk = spark.read.parquet(s"$tmp/${m.path("labels")}")
      val retSet = ret.as[(Long, Long)].collect().toSet
      val diskSet = onDisk.as[(Long, Long)].collect().toSet
      assert(retSet == diskSet,
        "returned labels must be exactly the published label artifact")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("clamped checkpoint keeps the bare-LogicalRDD shape CpSlot releases") {
    import org.apache.spark.sql.execution.LogicalRDD
    // build a frame whose inherited estimate EXCEEDS the cap (chained
    // checkpointed self-joins — the compounding shape), so the clamp's
    // rebuild branch actually fires, then verify the released contract
    var cur = spark.range(64).toDF("id").transform(graft.runtime.Ckpt.eager)
    (1 to 4).foreach { _ =>
      val r = cur.select(col("id").as("rid"))
      cur = cur.join(r, col("id") === col("rid"))
        .select(col("id"))
        .transform(graft.runtime.Ckpt.eager)
    }
    cur.queryExecution.logical match {
      case lr: LogicalRDD =>
        assert(lr.stats.sizeInBytes <= graft.runtime.Ckpt.CapBytes)
        // the BPE CpSlot release path: unpersist through the plan's own RDD
        lr.rdd.unpersist(false)
        assert(lr.rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
          "clamped checkpoint's RDD must be releasable through the plan")
      case other => fail(s"clamped checkpoint must stay a bare LogicalRDD, got $other")
    }
  }
}
