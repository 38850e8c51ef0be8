package graft

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import graft.derive.{CodeLakehouse, EdgeDerive}

/** Lakehouse generation + edge derivation, against a plain-Scala re-parse
  * of the generated content (the derivation ground truth) and the sha256
  * row invariant (input_hint).
  */
class DeriveSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  val N = 500L
  lazy val files = CodeLakehouse.table(spark, N, seed = 42L).cache()

  test("generator is deterministic and parallelism-independent") {
    val a = CodeLakehouse.table(spark, N, seed = 42L, partitions = 2)
      .orderBy("repo", "path").collect()
    val b = CodeLakehouse.table(spark, N, seed = 42L, partitions = 7)
      .orderBy("repo", "path").collect()
    assert(a.sameElements(b))
    assert(a.length == N)
  }

  test("sha256 manifest matches a local re-hash of every row") {
    val manifest = CodeLakehouse.manifest(files)
      .select("repo", "path", "content_sha256")
      .as[(String, String, String)].collect()
      .map { case (r, p, h) => (r, p) -> h }.toMap
    val local = files.select("repo", "path", "content")
      .as[(String, String, String)].collect()
    assert(local.length == N)
    local.foreach { case (r, p, c) =>
      val md = MessageDigest.getInstance("SHA-256")
      val hex = md.digest(c.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      assert(manifest((r, p)) == hex, s"sha mismatch for $r/$p")
    }
  }

  test("derived edges match a plain-Scala re-parse of the content") {
    val (edgesDf, cat) = EdgeDerive.derive(files)
    val got = edgesDf.as[(Long, Long, Double)].collect()
      .map { case (s, d, w) => (s, d) -> w }.toMap

    // oracle: parse imports by hand, resolve against a hand-built catalog
    val rows = files.select("repo", "path", "content")
      .as[(String, String, String)].collect()
    val ids = rows.map { case (r, p, _) => s"$r/$p" }.sorted.zipWithIndex
      .map { case (k, i) => k -> i.toLong }.toMap
    val want = rows.flatMap { case (r, p, c) =>
      val src = ids(s"$r/$p")
      c.linesIterator.filter(_.startsWith("import "))
        .map(_.stripPrefix("import "))
        .flatMap(ids.get) // unresolved drop out
        .filter(_ != src)
        .map(dst => (src, dst))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toDouble }

    assert(got == want)
    assert(got.nonEmpty)
    // catalog ids are dense 0..n-1
    val fids = cat.select("fid").as[Long].collect().sorted
    assert(fids.sameElements(0L until N))
  }

  test("derived graph has directed cycles (back-edges) and skewed in-degree") {
    val (edgesDf, _) = EdgeDerive.derive(files)
    val e = edgesDf.select("src", "dst").as[(Long, Long)].collect()
    assert(e.exists { case (s, d) => s < d } && e.exists { case (s, d) => s > d })
    val inDeg = e.groupBy(_._2).map(_._2.size)
    assert(inDeg.max >= 10 * (e.size.toDouble / inDeg.size).ceil.toInt,
      "expected power-law hot vertices")
  }
}
