package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Corpus
import graft.core.text.TextStats
import graft.operators.Dedup

/** Every query call does its own work: no query keeps a frame, a count or
  * a planning probe across calls. Each call must run as many Spark jobs as
  * the same computation built directly from the operators, and return the
  * same rows. The comparison is against the direct computation, so a
  * memo another suite warmed in the shared session still shows up.
  */
class QueryJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.01"

  /** Sorted rows of the frame `build` returns, and the number of Spark jobs
    * that building and collecting it ran.
    */
  private def jobsOf(build: => DataFrame): (Seq[String], Int) =
    JobCount(spark)(build.collect().map(_.toString).toSeq.sorted)

  private def clusters: DataFrame =
    Dedup.connectedComponents(
      Dedup.minhashPairs(spark, Dedup.withInjectedDups(Corpus.documents(spark, sf))))

  private def jaccardInput: (DataFrame, Long) = {
    val base = Corpus.documentsDistributed(spark, sf)
    val n = base.count()
    (base.withColumn("text", concat(col("text"), lit(" ubiq bigram"))), n / 10)
  }

  private val direct: Seq[(String, () => DataFrame)] = Seq(
    "q_dedup_cluster" -> (() => clusters),
    "q_cluster_rep" -> { () =>
      import spark.implicits._
      val scores = Dedup.withInjectedDups(Corpus.documents(spark, sf))
        .select("doc_id", "text").as[(Long, String)]
        .map { case (id, t) => (id, TextStats.quality(t).score.toLong) }
        .toDF("doc_id", "score")
      Queries.clusterRepFrom(clusters, scores)
    },
    "q_token_budget" -> { () =>
      val d = Corpus.documents(spark, sf)
      Queries.tokenBudgetOf(d, d.count())
    },
    "q_dedup_jaccard" -> { () =>
      val (docs, cap) = jaccardInput
      Dedup.ngramJaccard(spark, docs, cap)
    },
    "q_jaccard_dropped" -> { () =>
      val (docs, cap) = jaccardInput
      Dedup.hotShingles(spark, docs, cap)
    })

  direct.foreach { case (q, build) =>
    test(s"$q runs the direct computation's jobs on every call") {
      val (want, wantJobs) = jobsOf(build())
      assert(want.nonEmpty)
      for (call <- 1 to 2) {
        val (got, jobs) = jobsOf(SparkEntry.queries(q)(spark, sf))
        assert(jobs == wantJobs, s"call $call of $q ran $jobs jobs, direct computation $wantJobs")
        assert(got == want, s"call $call of $q")
      }
    }
  }
}
