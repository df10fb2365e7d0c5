package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The extraction benchmark's JVM side. Usage:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--commit C]
  *
  * Set-up (session, three seeded generations of the inputs that must agree
  * byte for byte, a warm-up pass over a small subset) is followed either by untraced passes
  * for `--seconds`, at least two (`--trace 0`: end-to-end metrics), or by the traced run
  * (`--trace 1`: per-layer metrics). Passes run one at a time on one
  * `local[nproc]` session. The last stdout line is the result object.
  */
object Main {
  private val GenReps = 3
  private val TracedReps = 2
  private val OverheadPairs = 1

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    if (opt("workload") == "train") return train(new File(opt("work")).getAbsoluteFile)
    val workload = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val commit = opts.getOrElse("commit", "unknown")

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"extbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = Ctx(spark, listener, seed, cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    def log(msg: String): Unit =
      System.err.println(f"[extbench] +${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1fs $msg")

    val env = Seq(
      "workload" -> s"\"${workload.name}\"", "seed" -> seed.toString, "trace" -> (if (trace) "1" else "0"),
      "nproc" -> cores.toString, "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "jdk" -> s"\"${System.getProperty("java.version")}\"", "spark" -> s"\"${spark.version}\"",
      "master" -> s"\"local[$cores]\"", "commit" -> s"\"$commit\"")
    println("INFO " + env.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}"))

    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val tracer = new Tracer
    var passNo = 0
    var lastOut = new File(".")
    var lastWork = Work()
    val passWork = mutable.ArrayBuffer.empty[Work]
    def freshDir(tag: String): File = { passNo += 1; new File(work, s"out/$tag-$passNo") }

    try {
      // ---- set-up, repeated: generation must be byte-identical each time
      // (the traced run reports no set-up time and generates once)
      val genReps = if (trace) 1 else GenReps
      val genS = (0 until genReps).map { k =>
        val t0 = System.nanoTime()
        workload.generate(ctx, new File(work, s"input-$k"))
        (System.nanoTime() - t0) / 1e9
      }
      val digests = (0 until genReps).map(k => Digest.ofDir(new File(work, s"input-$k")))
      if (digests.distinct.size != 1) throw new BenchFailure(s"seed $seed generated different inputs: $digests")
      (1 until genReps).foreach(k => Files.delete(new File(work, s"input-$k")))
      val prepared = workload.open(ctx, new File(work, "input-0"))
      log("inputs generated and opened")

      // honest-timing guard: no pass may run fewer jobs or tasks, or read
      // fewer input records, than the workload's first full pass
      var reference: Option[Work] = None
      def guarded(tag: String)(body: File => PassOut): PassOut = {
        val out = freshDir(tag)
        val before = listener.snapshot(spark.sparkContext, resetPeak = true)
        val p = try body(out) catch {
          case e: Exception =>
            problems += s"$tag pass failed: $e"
            PassOut(prepared.docs, Double.NaN, Double.NaN, prepared.docs)
        }
        val w = listener.snapshot(spark.sparkContext) - before
        reference match {
          case None => reference = Some(w)
          case Some(r) => Guard.check(r, w).foreach(msg => problems += s"$tag $msg")
        }
        lastWork = w
        log(f"$tag pass: main ${p.mainS}%.3fs, follow-up ${p.resumeS}%.3fs, " +
          s"jobs ${w.jobs}, tasks ${w.tasks}, input records ${w.inputRecords}")
        val checked = if (p.failed >= 0) p else {
          val c = prepared.fullCheck(out, p)
          problems ++= c.problems :+ p.note
          p.copy(failed = c.failedDocs)
        }
        lastOut = out
        checked
      }

      val warmT0 = System.nanoTime()
      val warmDir = freshDir("warmup")
      prepared.warmup(warmDir)
      Files.delete(warmDir)
      val warmS = (System.nanoTime() - warmT0) / 1e9
      val setupS = sessionS + Stats.median(genS) + warmS
      log(f"setup: session $sessionS%.2fs, generation ${genS.map(g => f"$g%.2f").mkString("/")}s, warm-up $warmS%.2fs")

      def finalCheck(p: PassOut): PassOut = {
        val c = prepared.fullCheck(lastOut, p)
        problems ++= c.problems
        p.copy(failed = math.max(p.failed, c.failedDocs))
      }

      if (!trace) {
        val passes = mutable.ArrayBuffer.empty[PassOut]
        val t0 = System.nanoTime()
        // at least two passes, so a run's median never rests on one sample
        while (passes.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
          if (passes.nonEmpty) Files.delete(lastOut)
          passes += guarded("timed")(prepared.pass)
        }
        passes(passes.size - 1) = finalCheck(passes.last)
        Files.delete(lastOut)
        attempted = passes.map(_.docs).sum
        failed = passes.map(_.failed).sum
        val rates = passes.map(p => (p.docs - p.failed) / p.mainS)
        metrics("docs_per_s") = Stats.median(rates)
        metrics("resume_s") = Stats.median(passes.map(_.resumeS))
        metrics("setup_s") = setupS
        val tail = Stats.supportedPercentile(passes.size)
          .map(p => f", slow-side p$p: ${Stats.percentile(rates, 100 - p)}%.1f docs/s").getOrElse("")
        println(f"[extbench] ${workload.name} seed=$seed passes=${passes.size}: setup_s=$setupS%.3f s, " +
          f"docs_per_s=${metrics("docs_per_s")}%.1f docs/s (median$tail), resume_s=${metrics("resume_s")}%.4f s, " +
          f"failed_frac=${failed.toDouble / attempted} ($failed/$attempted)")
      } else {
        val m = mutable.LinkedHashMap.empty[String, Double]
        // tracing overhead: untraced and traced passes alternate, so JIT
        // drift falls on both alike
        var gcTraced = 0.0
        Jvm.resetPeaks()
        val pairs = (0 until OverheadPairs).map { rep =>
          val u = guarded("untraced")(prepared.pass)
          Files.delete(lastOut)
          val gc0 = Jvm.gcSeconds()
          val t = guarded("traced")(prepared.tracedPass(tracer, rep, _))
          gcTraced += Jvm.gcSeconds() - gc0
          passWork += lastWork
          if (rep < OverheadPairs - 1) Files.delete(lastOut)
          (u, t)
        }
        val (untraced, traced) = (pairs.map(_._1), pairs.map(_._2))
        m("jvm.gc_s") = gcTraced / OverheadPairs
        m("jvm.heap_peak_mb") = Jvm.peakMb()
        val last = finalCheck(traced.last)
        Files.delete(lastOut)
        val all = untraced ++ traced.init :+ last
        attempted = all.map(_.docs).sum
        failed = all.map(_.failed).sum
        def medianWork(f: Work => Long) = Stats.median(passWork.map(w => f(w).toDouble))
        m("spark.jobs") = medianWork(_.jobs)
        m("spark.stages") = medianWork(_.stages)
        m("spark.tasks") = medianWork(_.tasks)
        m("spark.executor_run_s") = medianWork(_.runMs) / 1e3
        m("spark.executor_cpu_s") = medianWork(_.cpuNs) / 1e9
        m("spark.shuffle_read_bytes") = medianWork(_.shuffleRead)
        m("spark.shuffle_write_bytes") = medianWork(_.shuffleWrite)
        m("spark.spill_bytes") = medianWork(_.spill)
        m("spark.peak_exec_mem_mb") = passWork.map(_.peakExecMem).max / 1048576.0
        val untracedRate = Stats.median(untraced.map(p => p.docs / p.mainS))
        val tracedRate = Stats.median(traced.map(p => p.docs / p.mainS))
        m("trace.docs_per_s_untraced") = untracedRate
        m("trace.docs_per_s_traced") = tracedRate
        m("trace.overhead") = untracedRate / tracedRate - 1
        // layer ladder and per-kind routing, repeated; medians reported
        val ladders = (0 until TracedReps).map { rep =>
          val scratch = freshDir("ladder")
          val l = prepared.ladder(tracer, TracedReps + rep, scratch)
          Files.delete(scratch)
          l ++ tracer.layerSelf(TracedReps + rep).map { case (layer, s) => s"$layer.self_s" -> s }
        }
        ladders.flatMap(_.keys).distinct.foreach(k => m(k) = Stats.median(ladders.flatMap(_.get(k))))
        prepared.route(tracer, 2 * TracedReps).foreach(r => m ++= r.metrics)
        m ++= prepared.layerFacts()
        metrics ++= m
      }
    } catch {
      case e: BenchFailure => problems += e.getMessage
      case scala.util.control.NonFatal(e) =>
        problems += s"run aborted: $e"
        e.printStackTrace()
    }

    val correct = problems.isEmpty && failed == 0
    log("checks done")
    problems.foreach(p => System.err.println(s"[extbench] CHECK FAILED: $p"))
    Files.write(new File(work, "spans.json"), tracer.json)
    spark.stop()
    log("session stopped")
    // values only: the launcher attaches units and the metric set BENCHMARK.json declares
    val vs = metrics.map { case (k, v) => s"\"$k\":${Json.num(v)}" }.mkString("{", ",", "}")
    println(s"""RESULT {"correct":$correct,"attempted":${math.max(1L, attempted)},"failed":$failed,"values":$vs}""")
    if (!correct) sys.exit(1)
  }

  /** Class-loading training for the launcher's class-data-sharing archive:
    * one small pass and check of every workload, nothing measured.
    */
  private def train(work: File): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cores]").appName("extbench-train")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    Workloads.all.foreach { w =>
      val ctx = Ctx(spark, listener, 0L, cores)
      w.generate(ctx, new File(work, s"train-${w.name}"))
      val prepared = w.open(ctx, new File(work, s"train-${w.name}"))
      val out = new File(work, s"train-out-${w.name}")
      prepared.fullCheck(out, prepared.pass(out))
    }
    spark.stop()
  }

}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}

object Files {
  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }
}

/** Digest of a generated input directory: every regular file's relative
  * path (part files named by partition index only) and bytes, in order.
  */
object Digest {
  def ofDir(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: File, rel: String): Unit =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(c => walk(c, s"$rel/${c.getName}"))
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        md.update(rel.replaceAll("-[0-9a-f]{8}-[0-9a-f-]{27}", "").getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    walk(dir, "")
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** JVM-wide collector time and heap peaks. */
object Jvm {
  import scala.jdk.CollectionConverters._
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
  private def pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
  def resetPeaks(): Unit = pools.foreach(_.resetPeakUsage())
  /** Peak heap outside the eden space (survivor + old generation), in MB:
    * the data a pass keeps alive, not the short-lived garbage eden holds.
    */
  def peakMb(): Double = pools.filterNot(_.getName.toLowerCase.contains("eden"))
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
