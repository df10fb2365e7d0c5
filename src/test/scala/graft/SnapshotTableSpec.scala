package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.SnapshotTable

/** Iceberg-semantics stand-in: snapshot isolation, time travel, optimistic
  * concurrency, copy-on-write delete.
  */
class SnapshotTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-snap").resolve("t").toString

  test("append/overwrite produce numbered snapshots; reads resolve latest") {
    import spark.implicits._
    val t = tmp()
    val v1 = SnapshotTable.append(spark, t, Seq(1, 2, 3).toDF("x"))
    val v2 = SnapshotTable.append(spark, t, Seq(4, 5).toDF("x"))
    assert((v1, v2) == (1L, 2L))
    assert(SnapshotTable.read(spark, t).count() == 5)
    val v3 = SnapshotTable.overwrite(spark, t, Seq(9).toDF("x"))
    assert(v3 == 3L)
    assert(SnapshotTable.read(spark, t).collect().map(_.getInt(0)).toSeq == Seq(9))
  }

  test("time travel: every historical snapshot stays readable, bit-stable") {
    import spark.implicits._
    val t = tmp()
    SnapshotTable.append(spark, t, Seq(1, 2).toDF("x"))
    SnapshotTable.append(spark, t, Seq(3).toDF("x"))
    SnapshotTable.deleteWhere(spark, t, col("x") === 1)
    assert(SnapshotTable.snapshots(t) == Seq(1L, 2L, 3L))
    assert(SnapshotTable.read(spark, t, Some(1)).count() == 2)
    assert(SnapshotTable.read(spark, t, Some(2)).count() == 3)
    assert(SnapshotTable.read(spark, t, Some(3)).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
  }

  test("snapshot isolation: a resolved reader is immune to later commits") {
    import spark.implicits._
    val t = tmp()
    SnapshotTable.append(spark, t, Seq(1, 2, 3).toDF("x"))
    val pinned = SnapshotTable.read(spark, t, Some(1)) // resolve dirs NOW
    SnapshotTable.deleteWhere(spark, t, col("x") > 0)  // wipe everything after
    assert(pinned.count() == 3)                        // pinned view unaffected
    assert(SnapshotTable.read(spark, t).count() == 0)
  }

  test("optimistic concurrency: a racing commit NEVER clobbers the winner") {
    import spark.implicits._
    val t = tmp()
    SnapshotTable.append(spark, t, Seq(1).toDF("x"))
    // a racing writer grabs v2 in the window BETWEEN our manifest
    // computation and our publish attempt (the beforePublish test seam) —
    // exactly where rename-based publishes silently clobber on Linux
    val v1Content = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "snapshots", "v1"))
    var raced = false
    val v = SnapshotTable.append(spark, t, Seq(7).toDF("x"), beforePublish = () => {
      if (!raced) {
        raced = true
        // winner publishes a valid v2 (same dirs as v1)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(t, "snapshots", "v2"), v1Content)
      }
    })
    // our first attempt targeted v2, MUST have lost, and retried to v3
    assert(v == 3L)
    // the winner's v2 manifest survives byte-identical (no clobber)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "snapshots", "v2")) == v1Content)
    // and v3 was recomputed ON TOP of the winner's state
    assert(SnapshotTable.read(spark, t, Some(3))
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 7))
  }

  test("deleteWhere lost race recomputes from the new snapshot (no lost update)") {
    import spark.implicits._
    val t = tmp()
    SnapshotTable.append(spark, t, Seq(1, 2).toDF("x"))
    // a concurrent APPEND of row 3 lands between the delete's survivor
    // computation (from v1) and its publish attempt
    var raced = false
    SnapshotTable.deleteWhere(spark, t, col("x") === 1, beforePublish = () => {
      if (!raced) { raced = true; SnapshotTable.append(spark, t, Seq(3).toDF("x")): Unit }
    })
    // row 3 SURVIVES: the delete recomputed from the appended snapshot
    // instead of silently replacing it with v1-derived survivors
    assert(SnapshotTable.read(spark, t).collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
    assert(SnapshotTable.snapshots(t) == Seq(1L, 2L, 3L))
  }

  test("each dir's recorded counts equal its rows; time travel reads with its own schema") {
    import spark.implicits._
    val t = tmp()
    SnapshotTable.append(spark, t, Seq((Option(1), "a"), (None, "b")).toDF("x", "y"))
    SnapshotTable.append(spark, t, Seq((Option(3), null: String)).toDF("x", "y"),
      summary = (v, c) => Map("k\t=1" -> s"v$v rows=${c.rows}\n"))
    SnapshotTable.overwrite(spark, t, Seq((4, "d", 7L), (5, null, 8L)).toDF("x", "y", "z w=1"))
    SnapshotTable.deleteWhere(spark, t, col("x") === 4)
    assert(SnapshotTable.snapshots(t) == Seq(1L, 2L, 3L, 4L))
    for (v <- SnapshotTable.snapshots(t); (name, c) <- SnapshotTable.dirCounts(t, v)) {
      val rows = spark.read.parquet(s"$t/data/$name")
      assert(c.rows == rows.count(), s"v$v dir $name")
      assert(c.nonNull == rows.columns.map(k => k -> rows.filter(col(s"`$k`").isNotNull).count()).toMap,
        s"v$v dir $name")
    }
    assert(SnapshotTable.dirCounts(t, 2).map(_._2.rows) == Seq(2L, 1L))
    // the summary is the one the writer gave for the version it landed on
    assert(SnapshotTable.summary(t, 1).isEmpty)
    assert(SnapshotTable.summary(t, 2) == Map("k\t=1" -> "v2 rows=1\n"))
    // v1 reads with the schema it recorded, not the newest write's
    val v1 = SnapshotTable.read(spark, t, Some(1))
    assert(v1.schema == spark.read.parquet(s"$t/data/${SnapshotTable.snapshotDirs(t, 1).head}").schema)
    assert(v1.as[(Option[Int], String)].collect().toSet == Set((Some(1), "a"), (None, "b")))
    assert(SnapshotTable.read(spark, t).as[(Int, Option[String], Long)].collect().toSeq ==
      Seq((5, None, 8L)))
  }
}
