package graft

import org.apache.spark.sql.SparkSession

/** Measurement main beside the frozen [[Bench]] (which it never changes).
  * The first argument picks the job:
  *
  *   sbt "runMain graft.Profile queries [q_name ...]"
  *     per-query isolation: each query (all of them when none is named)
  *     runs with BOTH actions — the `count()` [[Bench]] times and a `noop`
  *     sink, which computes every column and cannot be pruned — and prints
  *     the min and median of N runs per action; optional
  *     `explain("formatted")` plan dumps.
  *
  *   sbt "runMain graft.Profile scaling"
  *     the SAME pipeline job at local[N] and local[4N] on the SAME input,
  *     throughput at both plus efficiency = (thr_4N/thr_N)/4. The two
  *     levels share one JVM, so rounds alternate and each level reports
  *     its best run. The most faithful runs pin each level to its cores in
  *     its own JVM (`taskset -c 0-(N-1)` around a pipeline-only Bench).
  *
  * Every timed call builds its query afresh: no query keeps state across
  * calls, so repeated runs time the work the query names.
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR         data dir (default: the sf0.1 testdata, as Bench)
  *   SPARK_GRAFT_CPUS           queries: local[N]          (default 32)
  *   SPARK_GRAFT_EXTRA_REPEAT   queries: runs per action   (default 3)
  *   SPARK_GRAFT_PLAN_DIR       queries: if set, write <dir>/<query>_<suffix>.txt
  *   SPARK_GRAFT_PLAN_SUFFIX    queries: plan file suffix  (default "before")
  *   SPARK_GRAFT_REPL           scaling: corpus replication (default 400)
  *   SPARK_GRAFT_SCALE_N        scaling: N of the N-vs-4N pair (default 2)
  *   SPARK_GRAFT_SCALING_ROUNDS scaling: alternating rounds (default 5)
  */
object Profile {
  private def env(k: String, default: String): String = sys.env.getOrElse(k, default)

  def main(args: Array[String]): Unit = {
    val sfDir = env("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.headOption match {
      case Some("queries") => queries(sfDir, args.toSeq.tail)
      case Some("scaling") => scaling(sfDir)
      case _ =>
        System.err.println("usage: graft.Profile queries [q_name ...] | scaling")
        sys.exit(2)
    }
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  private def fmt(xs: Seq[Double]): String = xs.map(t => f"$t%.3f").mkString(",")

  private def queries(sfDir: String, named: Seq[String]): Unit = {
    val repeat = env("SPARK_GRAFT_EXTRA_REPEAT", "3").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val suffix = env("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = Bench.session(env("SPARK_GRAFT_CPUS", "32"))
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n"))
      spark.sparkContext.setJobDescription(n)
      val cnt = (1 to repeat).map(_ => time(fn(spark, sfDir).count(): Unit))
      val noop = (1 to repeat).map(_ => time(
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()))
      planDir.foreach { d =>
        val p = java.nio.file.Paths.get(d)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.write(p.resolve(s"${n}_$suffix.txt"),
          fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      println(f"$n%-24s count_min=${cnt.min}%.3f count_med=${median(cnt)}%.3f " +
        f"noop_min=${noop.min}%.3f noop_med=${median(noop)}%.3f " +
        s"count=${fmt(cnt)} noop=${fmt(noop)}")
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }

  private def scaling(sfDir: String): Unit = {
    val factor = env("SPARK_GRAFT_REPL", "400").toInt
    val nLow = env("SPARK_GRAFT_SCALE_N", "2").toInt
    val rounds = env("SPARK_GRAFT_SCALING_ROUNDS", "5").toInt
    val lo = nLow.toString; val hi = (nLow * 4).toString
    var best = Map(lo -> (0L, Double.MaxValue), hi -> (0L, Double.MaxValue))
    for (r <- 1 to rounds; cpus <- Seq(hi, lo)) {
      val spark = Bench.session(cpus)
      val (n, sec) = Bench.pipelineRun(spark, sfDir, factor, cpus.toInt)
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      System.err.println(s"[scaling] round $r local[$cpus]: $sec s")
      if (sec < best(cpus)._2) best += cpus -> (n, sec)
    }
    val (nL, sL) = best(lo); val (nH, sH) = best(hi)
    val tL = nL / math.max(sL, 1e-9); val tH = nH / math.max(sH, 1e-9)
    val eff = (tH / tL) / 4.0
    println(s"""{"metric":"scaling_efficiency","value":$eff,"unit":"ratio","n_docs":$nL,"local$lo":{"sec":$sL,"docs_per_sec":$tL},"local$hi":{"sec":$sH,"docs_per_sec":$tH},"sf":"$sfDir","replication":$factor}""")
  }
}
