package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.core.LinkGraph
import scala.collection.mutable

/** Self-tests of the benchmark's own code:
  *
  *   SelfTest --work <dir> [--tables <TPC-H parquet dir>]
  *
  * Each reference is checked against the engine on TPC-H tables at
  * sf 0.001 (generated, or the directory given by `--tables`), the seeded
  * id map is checked to be a bijection, the self-time arithmetic is checked
  * on a synthetic span tree, and every workload runs one small solve.
  * Exits 1 if any test fails.
  */
object SelfTest {

  private val failures = mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok    $name") }
    catch {
      case e: Throwable =>
        failures += name
        println(s"FAIL  $name: $e")
    }

  private def expect(ok: Boolean, what: => String): Unit =
    if (!ok) throw new AssertionError(what)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val work = Paths.get(kv.getOrElse("--work", ".bench_work"))
    Files.createDirectories(work)

    test("seeded id map is a bijection") {
      for (n <- Seq(1L, 2L, 25L, 97L, 100L, 4096L, 150000L); seed <- 1L to 4L) {
        val p = Inputs.Perm.seeded(n, seed, "t")
        val img = (0L until n).map(p(_))
        expect(img.forall(x => x >= 0 && x < n) && img.distinct.size == n,
          s"Perm($n, seed $seed) is not a bijection of [0, $n)")
      }
      expect(Inputs.Perm.seeded(1000, 1, "t") != Inputs.Perm.seeded(1000, 2, "t"),
        "different seeds give the same map")
    }

    test("self time on a synthetic span tree") {
      val spans = Seq(
        Span(0, -1, 1, "root", 0, 100),
        Span(1, 0, 1, "a", 10, 30),
        Span(2, 0, 1, "b", 20, 50),  // overlaps a
        Span(3, 1, 1, "a.x", 12, 14), // grandchild: not subtracted from root
        Span(4, 0, 1, "c", 90, 120))  // runs past the root: clipped
      val self = Span.selfTimes(spans)
      expect(self(0) == 100 - (40 + 10), s"root self ${self(0)}")
      expect(self(1) == 20 - 2, s"a self ${self(1)}")
      expect(self(2) == 30 && self(3) == 2 && self(4) == 30, s"leaf selves $self")
      expect(Span.covered(Nil, 0, 5) == 0, "empty cover")
    }

    val spark = Main.session(math.min(4, Runtime.getRuntime.availableProcessors()), work)
    try {
      val tables = kv.getOrElse("--tables", {
        val d = work.resolve("selftest-tpch").toString
        Inputs.writeTpch(spark, d, 0.001, seed = 1)
        d
      })
      val edges = LinkGraph.edges(spark, tables).cache()
      val g = Reference.collect(edges)

      test("CSR PageRank reference matches PageRank.run") {
        val res = PageRank.run(spark, edges, tol = 1e-6)
        val (want, _) = Reference.pagerank(g, res.supersteps)
        val got = res.state.select("id", "rank").collect()
        expect(res.converged && got.length == g.n, "pagerank did not converge on all vertices")
        got.foreach { r =>
          val w = want(g.index(r.getLong(0)))
          expect(math.abs(r.getDouble(1) - w) <= 1e-6, s"rank of ${r.getLong(0)}: ${r.getDouble(1)} vs $w")
        }
      }

      test("union-find reference matches ConnectedComponents.run") {
        val want = Reference.components(g)
        val got = ConnectedComponents.components(spark, edges).collect()
        expect(got.length == g.n, "cc vertex count")
        got.foreach(r => expect(want(g.index(r.getLong(0))) == r.getLong(1),
          s"label of ${r.getLong(0)}"))
      }

      test("LPA reference matches LabelPropagation.run (5 rounds)") {
        val want = Reference.labelPropagation(g, 5)
        val got = LabelPropagation.run(spark, edges, iters = 5).state
          .select("id", "label").collect()
        expect(got.length == g.n, "lpa vertex count")
        got.foreach(r => expect(want(g.index(r.getLong(0))) == r.getLong(1),
          s"label of ${r.getLong(0)}"))
      }

      test("oriented-intersection reference matches TriangleCount.total") {
        val got = TriangleCount.total(spark, edges).collect()(0).getLong(0)
        val want = Reference.triangles(g)
        expect(got == want && want > 0, s"triangles: engine $got, reference $want")
      }

      test("TPC-H seeds rename keys but keep the graph") {
        val d2 = work.resolve("selftest-tpch-2").toString
        Inputs.writeTpch(spark, d2, 0.001, seed = 2)
        val n = Inputs.TpchSize(0.001)
        for ((t, c, want) <- Seq(("customer", "c_custkey", n.customers),
            ("supplier", "s_suppkey", n.suppliers), ("orders", "o_orderkey", n.orders))) {
          val keys = spark.read.parquet(s"$d2/$t.parquet")
            .agg(countDistinct(col(c)), min(col(c)), max(col(c))).head()
          expect(keys.getLong(0) == want && keys.getLong(1) == 1 && keys.getLong(2) == want,
            s"$t keys are not a bijection of [1, $want]: $keys")
        }
        val g2 = Reference.collect(LinkGraph.edges(spark, d2))
        expect(g2.m == g.m && g2.n == g.n, "edge or vertex count changed with the seed")
        expect(Reference.triangles(g2) == Reference.triangles(g), "triangles changed with the seed")
        expect(!g2.ids.sameElements(g.ids) || g2.src.toSeq != g.src.toSeq,
          "seed 2 produced the same ids as seed 1")
      }

      val ctx = new Ctx(spark, new Tracer(spark.sparkContext), new BenchListener, 3L, work)
      spark.sparkContext.addSparkListener(ctx.listener)
      val lh = new Lakehouse(ctx, 3000)
      for (w <- Seq(
          new Workload("lakehouse", Seq(lh, new PagerankPart(ctx, lh), new ComponentsPart(ctx, lh))),
          new Workload("tpch-frap", Seq(new LabelsPart(ctx, 0.001), new FrapPart(ctx, 20, 12, 3)))))
        test(s"workload ${w.name}: one traced solve passes its checks") {
          ctx.tracer.enabled = true
          w.setup()
          w.prepareReference()
          val s = new Solve
          w.solve(s)
          ctx.tracer.enabled = false
          expect(s.errors.isEmpty, s.errors.mkString("; "))
          expect(s.ops.nonEmpty && s.ops.values.forall(_ > 0), s"op times ${s.ops}")
        }
    } finally spark.stop()

    if (failures.nonEmpty) {
      println(s"${failures.size} self-test(s) failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    println("all self-tests passed")
  }
}
