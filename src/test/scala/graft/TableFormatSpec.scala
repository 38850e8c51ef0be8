package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{DurableStore, ParquetFormat, SnapshotParquetFormat, TableFormat}

/** Shared contract suite for every [[TableFormat]] implementation (VERDICT
  * r3 item 8): the seam is only real if a second implementation passes the
  * SAME create/overwrite/half-write/race/resume obligations ParquetFormat
  * does — so each contract test runs for both formats, and the DurableStore
  * resume path is driven through the injected format.
  */
class TableFormatSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark

  private val impls: Seq[(String, String => TableFormat)] = Seq(
    "parquet" -> (root => new ParquetFormat(root)),
    "snapshot" -> (root => new SnapshotParquetFormat(root)))

  private def df(n: Int) =
    spark.range(n).select(col("id"), (col("id") * 2).as("v"))

  for ((name, mk) <- impls) {

    test(s"[$name] createIfAbsent + read round-trips; first writer wins") {
      val fmt = mk(Files.createTempDirectory(s"tf-$name").toString)
      assert(!fmt.exists("t"))
      fmt.createIfAbsent(df(10), "t")
      assert(fmt.exists("t"))
      assert(fmt.read(spark, "t").count() == 10)
      // second create with different content is a no-op
      fmt.createIfAbsent(df(99), "t")
      assert(fmt.read(spark, "t").count() == 10)
      // the oracle-facing location really holds the committed parquet
      assert(spark.read.parquet(fmt.location("t")).count() == 10)
    }

    test(s"[$name] overwrite replaces content atomically for readers") {
      val fmt = mk(Files.createTempDirectory(s"tf-$name").toString)
      fmt.overwrite(df(5), "t")
      assert(fmt.read(spark, "t").count() == 5)
      fmt.overwrite(df(7), "t")
      assert(fmt.read(spark, "t").count() == 7)
      assert(fmt.exists("t"))
    }

    test(s"[$name] a half-written table reads as absent and is repairable") {
      val root = Files.createTempDirectory(s"tf-$name").toString
      val fmt = mk(root)
      // simulate a killed writer: data files present, commit marker absent
      fmt.createIfAbsent(df(10), "corpse")
      val committed = new java.io.File(fmt.location("corpse"))
      (name match {
        case "parquet" => Seq(new java.io.File(committed, "_SUCCESS"))
        case _ => Seq(new java.io.File(committed, "_SUCCESS"),
          new java.io.File(s"$root/corpse/_current"))
      }).foreach(f => assert(f.delete(), s"couldn't break $f"))
      assert(!fmt.exists("corpse"), "incomplete write must read as absent")
      // a later creator repairs the corpse instead of latching onto it
      fmt.createIfAbsent(df(3), "corpse")
      assert(fmt.exists("corpse"))
      assert(fmt.read(spark, "corpse").count() == 3)
    }

    test(s"[$name] concurrent createIfAbsent: one winner, no torn reads") {
      val fmt = mk(Files.createTempDirectory(s"tf-$name").toString)
      val threads = (0 until 4).map { i =>
        new Thread(() => fmt.createIfAbsent(df(20 + i), "race"))
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(fmt.exists("race"))
      val n = fmt.read(spark, "race").count()
      assert(n >= 20 && n <= 23, s"torn table: $n rows")
    }

    test(s"[$name] DurableStore resume works through the injected format") {
      val dir = Files.createTempDirectory(s"tf-$name-store").toString
      val edges = graft.core.LinkGraph.edges(spark, TestSessions.Sf0001)
      graft.algos.PageRank.run(spark, edges, tol = -1.0, maxIters = 2,
        store = new DurableStore(spark, dir, mk(dir)))
      val store2 = new DurableStore(spark, dir, mk(dir))
      assert(store2.resumePoint().map(_._1).contains(2))
      val resumed = graft.algos.PageRank.run(spark, edges, tol = -1.0,
        maxIters = 4, store = store2)
      assert(resumed.metrics.head.iter == 3) // earlier work not redone
      assert(resumed.supersteps == 4)
    }
  }

  test("snapshot format keeps prior snapshots until vacuum (time travel)") {
    val root = Files.createTempDirectory("tf-tt").toString
    val fmt = new SnapshotParquetFormat(root)
    fmt.overwrite(df(5), "t")
    val snap1 = fmt.location("t")
    fmt.overwrite(df(9), "t")
    assert(fmt.location("t") != snap1)
    // the superseded snapshot is still complete and readable by path
    assert(spark.read.parquet(snap1).count() == 5)
  }
}
