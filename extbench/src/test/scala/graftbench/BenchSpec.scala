package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.route.Extract

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val scratch = java.nio.file.Files.createTempDirectory("extbench-spec").toFile
  private lazy val spark = SparkSession.builder().master("local[2]").appName("extbench-spec")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .config("spark.local.dir", new File(scratch, "spark-local").getPath)
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); Files.delete(scratch) }

  private def dir(name: String) = new File(scratch, name)

  test("the same seed gives byte-identical inputs, another seed different ones") {
    Interleaved.write(spark, 7, 0, 3000, Sizes.FailShare, 3, s"${dir("a")}/c")
    Interleaved.write(spark, 7, 0, 3000, Sizes.FailShare, 3, s"${dir("b")}/c")
    Interleaved.write(spark, 8, 0, 3000, Sizes.FailShare, 3, s"${dir("c")}/c")
    assert(Digest.ofDir(dir("a")) == Digest.ofDir(dir("b")))
    assert(Digest.ofDir(dir("a")) != Digest.ofDir(dir("c")))

    NearDup.write(spark, NearDup.rows(7), 3, s"${dir("nd1")}/d")
    NearDup.write(spark, NearDup.rows(7), 3, s"${dir("nd2")}/d")
    NearDup.write(spark, NearDup.rows(8), 3, s"${dir("nd3")}/d")
    assert(Digest.ofDir(dir("nd1")) == Digest.ofDir(dir("nd2")))
    assert(Digest.ofDir(dir("nd1")) != Digest.ofDir(dir("nd3")))

    Containers.write(7, dir("f1")); Containers.write(7, dir("f2")); Containers.write(8, dir("f3"))
    assert(Digest.ofDir(dir("f1")) == Digest.ofDir(dir("f2")))
    assert(Digest.ofDir(dir("f1")) != Digest.ofDir(dir("f3")))
  }

  test("generated inputs do not depend on Spark partitioning") {
    import spark.implicits._
    Interleaved.write(spark, 11, 0, 4000, Sizes.FailShare, 2, s"${dir("p2")}/c")
    Interleaved.write(spark, 11, 0, 4000, Sizes.FailShare, 7, s"${dir("p7")}/c")
    def rows(p: String) = spark.read.parquet(p).as[graft.core.DocIn].collect()
      .map(d => (d.doc_id, d.spans.toSeq)).sortBy(_._1).toSeq
    val (a, b) = (rows(s"${dir("p2")}/c"), rows(s"${dir("p7")}/c"))
    assert(a.size == 4000 && a == b)
    assert(new File(s"${dir("p2")}/c").list().count(_.endsWith(".parquet")) == 2)
    assert(new File(s"${dir("p7")}/c").list().count(_.endsWith(".parquet")) == 7)
  }

  test("the guard rejects a pass that reuses a cached frame") {
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    Interleaved.write(spark, 3, 0, 2000, 0, 2, s"${dir("g")}/c")
    def frame() = spark.read.parquet(s"${dir("g")}/c").groupBy("doc_id").count()
    def pass(body: => Unit): Work = {
      val before = listener.snapshot(spark.sparkContext)
      body
      listener.snapshot(spark.sparkContext) - before
    }
    val first = pass(Workloads.noop(frame()))
    assert(Guard.check(first, pass(Workloads.noop(frame()))).isEmpty)
    val cached = frame().cache()
    Workloads.noop(cached)
    assert(Guard.check(first, pass(Workloads.noop(cached))).isDefined)
    cached.unpersist()
    spark.sparkContext.removeSparkListener(listener)
  }

  test("declared kinds, statuses and child counts match a local explode") {
    for (seed <- Seq(1L, 2L); f <- Containers.files(seed)) {
      val d = graft.sources.Ingest.toDocIn("file:/c/" + f.name, f.bytes)
      assert(d.spans.head.kind == f.kind, f.name)
      val outs = Extract.explode(d)
      val status = if (outs.head.no_content_reason == graft.core.Reason.Encrypted)
        graft.core.Status.NotDecrypted else graft.core.Status.Success
      assert(status == f.status, f.name)
      assert(outs.size - 1 == f.children, f.name)
    }
    val pool = Texts.pool(5)
    (0 until 3000).foreach { i =>
      val d = Interleaved.doc(5, i, pool, 0)
      assert(Extract.explode(d).size - 1 == Interleaved.children(d.doc_id))
    }
  }

  test("near-duplicate groups stay under the union-find edge bound") {
    (1L to 200L).foreach { seed =>
      assert(NearDup.maxGroupPairs(seed) < (1L << 20) / 2, s"seed $seed")
      val sizes = NearDup.groupSizes(seed)
      val pairs = sizes.map(s => s.toLong * (s - 1) / 2)
      assert(pairs.max * 2 > pairs.sum, s"seed $seed: the largest group's pairs should dominate")
    }
  }

  test("histogram quantiles stay within a bucket of the exact value") {
    val h = new Hist()
    val r = new java.util.SplittableRandom(1)
    val xs = Array.fill(20000)(1000L + r.nextInt(1000000))
    xs.foreach(h.add)
    val sorted = xs.sorted
    Seq(0.5, 0.99).foreach { q =>
      val exact = sorted((q * (xs.length - 1)).toInt).toDouble
      assert(math.abs(h.quantile(q) - exact) / exact < 0.13, s"q=$q")
    }
    val merged = new Hist().merge(h).merge(h)
    assert(merged.n == 2 * h.n && merged.quantile(0.5) == h.quantile(0.5))
  }

  test("BENCHMARK.json's per-layer metrics are the layer catalog's") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = new File(System.getProperty("user.dir")).getAbsoluteFile
    val bench = om.readTree(new File(root.getParentFile, "BENCHMARK.json"))
    val catalog = om.readTree(new File(root, "layers.json"))
    def triples(n: com.fasterxml.jackson.databind.JsonNode) = {
      val it = n.elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => (m.get("name").asText, m.get("unit").asText, m.get("better").asText)).toSeq
    }
    assert(triples(bench.get("per_layer")) == triples(catalog.get("per_layer")))
  }
}
