package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.catalog.SnapshotTable
import graft.core._
import graft.pipeline.ExtractJob

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-pipe").toString

  private def corpus(n: Int) = {
    import spark.implicits._
    spark.createDataset((0 until n).map { i =>
      Corpus.synthesizeOne(i.toLong, s"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima unit$i")
    })
  }

  test("end-to-end run writes extracted, lineage, and checkpoints") {
    val out = tmpDir()
    val (nd, nl) = ExtractJob.run(spark, corpus(30), None, out)
    assert(nl == 30)
    // docs: 30 roots + 10 level-1 children (doc_id%3==0) + 1 level-2 child
    // (doc 27 is a chain container)
    assert(nd == 41)
    val lineage = ExtractJob.readLineage(spark, out).get
    assert(lineage.filter(col("status") === Status.Success).count() == 30)
    assert(lineage.filter(col("docs_per_sec") > 0).count() == 30)
    val ckpt = ExtractJob.readCheckpoints(spark, out).get
    assert(ckpt.agg(sum("n_docs")).first().getLong(0) == 30)
    assert(ckpt.select("run_id").distinct().collect().map(_.getString(0)).toSeq ==
      ExtractJob.committedRuns(spark, out).take(1))
  }

  test("incremental commit: run N+1 writes O(run N+1), never rewrites history") {
    val out = tmpDir()
    ExtractJob.run(spark, corpus(10), None, out)
    val run1 = ExtractJob.committedRuns(spark, out)
    assert(run1.size == 1)
    def snapshot(runId: String): Map[String, Long] = {
      val d = new java.io.File(s"$out/data/$runId")
      d.listFiles().map(f => f.getName -> f.lastModified()).toMap
    }
    val before = snapshot(run1.head)

    // run 2 over a superset: auto-resume keeps only the 10 new docs
    val (nd2, nl2) = ExtractJob.run(spark, corpus(20), None, out)
    val runs2 = ExtractJob.committedRuns(spark, out)
    assert(runs2.size == 2 && runs2.head == run1.head)
    // history untouched: same files, same mtimes in run 1's dir
    assert(snapshot(run1.head) == before)
    // run 2's own dir holds exactly the 10 new docs' lineage
    val run2Dir = s"$out/data/${runs2(1)}"
    val run2Lineage = spark.read.parquet(run2Dir)
      .filter(col("lineage").isNotNull).select("lineage.*")
    assert(run2Lineage.count() == 10)
    assert(run2Lineage.agg(min("doc_id")).first().getLong(0) == 10L)
    // views see the union
    assert(nl2 == 20)
    assert(ExtractJob.readExtracted(spark, out).get
      .filter(col("level") === 0).count() == 20)
    // time travel: snapshot 1 still shows only run 1's lineage
    assert(SnapshotTable.read(spark, out, Some(1))
      .filter(col("lineage").isNotNull).count() == 10)

    // run 3 over the same input: nothing pending, still O(nothing)
    val (nd3, nl3) = ExtractJob.run(spark, corpus(20), None, out)
    assert(nl3 == 20 && nd3 == nd2)
  }

  test("crash-orphaned run dir (no manifest row) is invisible to readers") {
    val out = tmpDir()
    ExtractJob.run(spark, corpus(5), None, out)
    // simulate a crash after the data-dir write but before the snapshot
    // publish: a data dir no snapshot lists
    ExtractJob.extractPartitions(corpus(8), ExtractJob.JobConfig())
      .toDF("doc", "lineage")
      .write.mode("overwrite").parquet(s"$out/data/orphan99")
    assert(ExtractJob.committedRuns(spark, out).size == 1)
    assert(ExtractJob.readLineage(spark, out).get.count() == 5)
  }

  test("resolving committed runs reads the snapshot file and runs no Spark job") {
    val out = tmpDir()
    ExtractJob.run(spark, corpus(5), None, out)
    ExtractJob.run(spark, corpus(10), None, out)
    val (runs, jobs) = JobCount(spark)(ExtractJob.committedRuns(spark, out))
    assert(runs.size == 2)
    assert(jobs == 0)
  }

  test("racing writers over disjoint docs both land as snapshots") {
    import spark.implicits._
    val out = tmpDir()
    def docs(ids: Range) = spark.createDataset(ids.map(i =>
      Corpus.synthesizeOne(i.toLong, s"alpha bravo charlie unit$i")))
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val writers = Seq(0 until 12, 100 until 112).map(ids =>
        pool.submit(new Callable[(Long, Long)] {
          def call(): (Long, Long) = { start.await(); ExtractJob.run(spark, docs(ids), None, out) }
        }))
      start.countDown()
      writers.foreach(_.get(5, TimeUnit.MINUTES)) // rethrows a writer's failure
    } finally pool.shutdown()
    assert(SnapshotTable.snapshots(out) == Seq(1L, 2L))
    assert(ExtractJob.committedRuns(spark, out).size == 2)
    val ids = ExtractJob.readLineage(spark, out).get.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 12L) ++ (100L until 112L))
  }

  test("resume skips terminal statuses and retries the rest") {
    import spark.implicits._
    val input = corpus(20)
    val lineage = spark.createDataFrame(Seq(
      (0L, Status.Success), (1L, Status.Timeout), (2L, Status.Fatal),
      (3L, Status.Unknown), (4L, Status.NotParsed)
    )).toDF("doc_id", "status")
    val pending = ExtractJob.resume(input, lineage).collect().map(_.doc_id).sorted
    // 0,1,2 terminal -> skipped; 3,4 retryable -> kept
    assert(pending.toSeq == (3L until 20L))
  }

  test("second run over its own lineage extracts nothing (idempotent resume)") {
    val out = tmpDir()
    val input = corpus(10)
    ExtractJob.run(spark, input, None, out)
    val lineage = ExtractJob.readLineage(spark, out).get
    val pending = ExtractJob.resume(input, lineage)
    assert(pending.count() == 0)
  }

  test("failure taxonomy: every producing path yields its classified status") {
    import spark.implicits._
    val poisoned = spark.createDataset(Seq(
      DocIn(1, Array(SpanIn("text", "fine", "", 0))),
      DocIn(2, null), // null spans == empty doc: SUCCESS/empty-file, both paths
      DocIn(3, Array(SpanIn("pdf", "ENCRYPTED:blob", "", 0))),
      DocIn(4, Array(SpanIn("html", "POISON:tagsoup", "", 0))),
      DocIn(5, Array(SpanIn("media", "MISSING:blobref", "", 0))),
      DocIn(6, Array(SpanIn("pdf", "UNREADABLE:truncated", "", 0)))
    ))
    val res = ExtractJob.extractPartitions(poisoned, ExtractJob.JobConfig()).collect()
    val lineages = res.flatMap(_._2)
    def st(id: Long) = lineages.find(_.doc_id == id).get.status
    assert(st(1) == Status.Success)
    assert(st(2) == Status.Success) // graceful empty, never a failure
    assert(st(3) == Status.NotDecrypted)
    assert(st(4) == Status.NotParsed)
    assert(st(5) == Status.NotFound)
    assert(st(6) == Status.Unreadable)
    // NOT_DECRYPTED is non-terminal: a resume retries it
    assert(!Status.terminal.contains(Status.NotDecrypted))
    // the empty doc still emitted a (reason-stamped) doc row, not a failure
    val emptyDoc = res.flatMap(_._1).find(_.doc_id == graft.core.Ids.rootId(2L))
    assert(emptyDoc.get.no_content_reason == Reason.Empty)
  }

  test("slow document hits the deadline -> FAILURE_TIMEOUT, terminal for resume") {
    import spark.implicits._
    val docs = spark.createDataset(Seq(
      DocIn(1, Array(SpanIn("text", "fast", "", 0))),
      // busy-waits >=100ms; the 20ms deadline MUST fire at the next boundary
      DocIn(2, Array(SpanIn("text", "SLOW:100", "", 0), SpanIn("text", "after", "", 1)))
    ))
    val cfg = ExtractJob.JobConfig(docTimeoutMillis = 20)
    val res = ExtractJob.extractPartitions(docs, cfg).collect()
    val lineages = res.flatMap(_._2)
    assert(lineages.find(_.doc_id == 1).get.status == Status.Success)
    assert(lineages.find(_.doc_id == 2).get.status == Status.Timeout)
    // no doc rows for the timed-out doc
    assert(!res.flatMap(_._1).exists(_.doc_id == graft.core.Ids.rootId(2L)))
    // TIMEOUT is terminal: resume skips it (the reference's Reporter.skip)
    val lineageDf = spark.createDataset(lineages.toSeq).toDF()
    assert(ExtractJob.resume(docs, lineageDf).count() == 0)
    // without a deadline the same doc succeeds (cooperative, not spurious)
    val ok = ExtractJob.extractPartitions(docs, ExtractJob.JobConfig()).collect()
    assert(ok.flatMap(_._2).forall(_.status == Status.Success))
  }

  test("salted repartition spreads oversized docs and keeps all rows") {
    import spark.implicits._
    val big = DocIn(999, Array(SpanIn("text", "x" * 2000, "", 0)))
    val docs = spark.createDataset(
      (0 until 50).map(i => DocIn(i.toLong, Array(SpanIn("text", "small", "", 0)))) :+ big)
    val cfg = ExtractJob.JobConfig(partitions = 8, oversizedChars = 1000)
    val parted = ExtractJob.saltedRepartition(docs, cfg)
    assert(parted.count() == 51)
    assert(parted.rdd.getNumPartitions == 8)
  }

  test("extraction output equals the direct per-doc computation (plan-independent)") {
    import spark.implicits._
    val input = corpus(15)
    val expected = (0 until 15).flatMap(i =>
      graft.core.route.Extract.explode(
        Corpus.synthesizeOne(i.toLong, s"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima unit$i")))
      .map(_.doc_id).sorted
    val got = ExtractJob.extractPartitions(
      ExtractJob.saltedRepartition(input, ExtractJob.JobConfig(partitions = 5)),
      ExtractJob.JobConfig())
      .collect().flatMap(_._1).map(_.doc_id).sorted.toSeq
    assert(got == expected)
  }

  /** (docs in the extracted view, lineage rows) of snapshot `v` — the
    * totals `run` must return for the snapshot it published.
    */
  private def viewsAt(out: String, v: Long): (Long, Long) = {
    val all = SnapshotTable.read(spark, out, Some(v))
    (all.filter(col("doc").isNotNull).select("doc.*").dropDuplicates("doc_id").count(),
      all.filter(col("lineage").isNotNull).count())
  }

  private def recorded(out: String, v: Long): Option[String] =
    SnapshotTable.summary(out, v).get("extracted")

  test("building the snapshot and lineage reads launches no Spark job") {
    val out = tmpDir()
    ExtractJob.run(spark, corpus(5), None, out)
    ExtractJob.run(spark, corpus(10), None, out)
    val (_, jobs) = JobCount(spark) {
      SnapshotTable.read(spark, out)
      SnapshotTable.read(spark, out, Some(1))
      ExtractJob.readLineage(spark, out).get
    }
    assert(jobs == 0)
  }

  test("a run launches only the jobs of its extraction write") {
    val cfg = ExtractJob.JobConfig(partitions = 4)
    def frame(in: Dataset[DocIn]): DataFrame =
      ExtractJob.extractPartitions(ExtractJob.saltedRepartition(in, cfg), cfg).toDF("doc", "lineage")
    val out = tmpDir()
    val (_, writeFirst) = JobCount(spark)(frame(corpus(20)).write.parquet(tmpDir() + "/w"))
    val (first, runFirst) = JobCount(spark)(ExtractJob.run(spark, corpus(20), None, out, cfg))
    assert(runFirst == writeFirst, s"first run: $runFirst jobs, its write alone $writeFirst")
    val (_, writeResume) = JobCount(spark)(
      frame(ExtractJob.resume(corpus(30), ExtractJob.readLineage(spark, out).get))
        .write.parquet(tmpDir() + "/w"))
    val (second, runResume) = JobCount(spark)(ExtractJob.run(spark, corpus(30), None, out, cfg))
    assert(runResume == writeResume, s"resume run: $runResume jobs, resume + write alone $writeResume")
    assert(first == viewsAt(out, 1) && second == viewsAt(out, 2))
    assert(first == (27L, 20L) && recorded(out, 2).contains(second._1.toString))
  }

  test("counts stay exact off the fast path: repeated input ids") {
    import spark.implicits._
    val out = tmpDir()
    // ids 0..3 twice: identical copies share a task under the default salt
    val (n1, l1) = ExtractJob.run(spark, corpus(10).union(corpus(4)), None, out)
    assert((n1, l1) == viewsAt(out, 1) && l1 == 14 && recorded(out, 1).isEmpty)
    // id 12 again with an oversized body: the salt may send it to another
    // task than its plain copy
    val cfg = ExtractJob.JobConfig(partitions = 8, oversizedChars = 1000)
    val big = spark.createDataset(Seq(DocIn(12L, Array(SpanIn("text", "x" * 2000, "", 0)))))
    val (n2, l2) = ExtractJob.run(spark, corpus(13).union(big), None, out, cfg)
    assert((n2, l2) == viewsAt(out, 2) && recorded(out, 2).isEmpty)
    // the next clean run records the total again, counted from its base
    val (n3, l3) = ExtractJob.run(spark, corpus(16), None, out, cfg)
    assert((n3, l3) == viewsAt(out, 3) && recorded(out, 3).contains(n3.toString))
  }

  test("counts stay exact off the fast path: a supplied lineagePrev") {
    val out = tmpDir()
    ExtractJob.run(spark, corpus(10), None, out)
    assert(recorded(out, 1).contains(viewsAt(out, 1)._1.toString))
    // docs 5..9 are terminal in the output but not in the supplied lineage
    val prev = ExtractJob.readLineage(spark, out).get.filter(col("doc_id") < 5)
    val (n2, l2) = ExtractJob.run(spark, corpus(12), Some(prev), out)
    assert((n2, l2) == viewsAt(out, 2) && l2 == 17 && recorded(out, 2).isEmpty)
    val (n3, l3) = ExtractJob.run(spark, corpus(14), None, out)
    assert((n3, l3) == viewsAt(out, 3) && recorded(out, 3).contains(n3.toString))
  }

  test("counts stay exact off the fast path: racing writers over overlapping ids") {
    import spark.implicits._
    val out = tmpDir()
    def docs(ids: Range) = spark.createDataset(ids.map(i =>
      Corpus.synthesizeOne(i.toLong, s"alpha bravo charlie unit$i"))).coalesce(1)
    PipelineSpec.RaceGate.reset()
    // writer A resolves its (empty) base, then its extraction task waits
    // until writer B, over ids 6..17, has committed v1
    val a = new java.util.concurrent.FutureTask[(Long, Long)](() =>
      ExtractJob.run(spark, docs(0 until 12).mapPartitions { it =>
        PipelineSpec.RaceGate.holdA(); it }, None, out))
    new Thread(a).start()
    assert(PipelineSpec.RaceGate.aStarted.await(2, TimeUnit.MINUTES))
    val b = ExtractJob.run(spark, docs(6 until 18), None, out)
    PipelineSpec.RaceGate.bCommitted.countDown()
    val aCounts = a.get(5, TimeUnit.MINUTES)
    assert(SnapshotTable.snapshots(out) == Seq(1L, 2L))
    assert(b == viewsAt(out, 1) && recorded(out, 1).contains(b._1.toString))
    // A lost the race to v1 and landed on B's snapshot: ids 6..11 are in
    // both dirs, so A's total is counted from the deduplicated view
    assert(aCounts == viewsAt(out, 2) && aCounts._2 == 24 && recorded(out, 2).isEmpty)
    assert(aCounts._1 < b._1 + SnapshotTable.dirCounts(out, 2).last._2.nonNull("doc"))
    val (n3, l3) = ExtractJob.run(spark, docs(0 until 20), None, out)
    assert((n3, l3) == viewsAt(out, 3) && recorded(out, 3).contains(n3.toString))
  }
}

object PipelineSpec {
  /** Orders two racing runs: A's extraction task signals that it started
    * (so A has resolved its base) and then waits until B has committed.
    */
  object RaceGate {
    @volatile var aStarted = new CountDownLatch(1)
    @volatile var bCommitted = new CountDownLatch(1)
    def reset(): Unit = { aStarted = new CountDownLatch(1); bCommitted = new CountDownLatch(1) }
    def holdA(): Unit = { aStarted.countDown(); bCommitted.await(2, TimeUnit.MINUTES): Unit }
  }
}
