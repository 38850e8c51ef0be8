package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs the engine receives as plain tables. */
object Inputs {

  /** Bijection of [0, n): x ↦ (a·x + b) mod n with gcd(a, n) = 1. */
  final case class Perm(n: Long, a: Long, b: Long) {
    require(n < (1L << 31), "a·x must fit in a long")
    def apply(x: Long): Long = Math.floorMod(a * x + b, n)
    def apply(x: Column): Column = pmod(x * lit(a) + lit(b), lit(n))
  }

  object Perm {
    @annotation.tailrec
    private def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)

    def seeded(n: Long, seed: Long, tag: String): Perm = {
      val r = new scala.util.Random(seed * 0x9E3779B97F4A7C15L ^ tag.hashCode)
      if (n == 1) Perm(1, 1, 0)
      else {
        var a = 1 + (r.nextLong() >>> 1) % (n - 1)
        while (gcd(a, n) != 1) a = 1 + (a % (n - 1))
        Perm(n, a, (r.nextLong() >>> 1) % n)
      }
    }
  }

  /** Row counts of the TPC-H tables [[graft.core.LinkGraph.edges]] reads,
    * at scale factor `sf` (the TPC-H base cardinalities).
    */
  final case class TpchSize(sf: Double) {
    val nations = 25L
    val customers: Long = math.max(1L, (150000 * sf).toLong)
    val suppliers: Long = math.max(4L, (10000 * sf).toLong)
    val parts: Long = math.max(1L, (200000 * sf).toLong)
    val orders: Long = math.max(1L, (1500000 * sf).toLong)
  }

  /** Writes nation, customer, supplier, orders and lineitem parquet files
    * under `dir`, shaped like TPC-H: 1–7 lines per order, each part sold by
    * 4 suppliers (the dbgen `l_suppkey` rule), so the few suppliers are the
    * high-degree hubs. The structure is fixed; `seed` only renames every
    * key through a seeded [[Perm]] per entity, so partition placement and
    * label tie-breaks vary while the graph stays isomorphic.
    */
  def writeTpch(spark: SparkSession, dir: String, sf: Double, seed: Long)
      : Unit = {
    val n = TpchSize(sf)
    val (pn, pc, ps, pp, po) = (
      Perm.seeded(n.nations, seed, "nation"),
      Perm.seeded(n.customers, seed, "customer"),
      Perm.seeded(n.suppliers, seed, "supplier"),
      Perm.seeded(n.parts, seed, "part"),
      Perm.seeded(n.orders, seed, "order"))
    def h(tag: String, cols: Column*) = xxhash64((lit(42L) +: lit(tag) +: cols): _*)
    def key(p: Perm, zeroBased: Column) = p(zeroBased) + 1
    val parts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt / 4)
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(parts).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val id = col("id")
    write("nation", spark.range(n.nations).select(
      pn(id).cast("int").as("n_nationkey"),
      pmod(id, lit(5L)).cast("int").as("n_regionkey")))
    write("customer", spark.range(n.customers).select(
      key(pc, id).as("c_custkey"),
      pn(pmod(h("cn", id), lit(n.nations))).cast("int").as("c_nationkey")))
    write("supplier", spark.range(n.suppliers).select(
      key(ps, id).as("s_suppkey"),
      pn(pmod(h("sn", id), lit(n.nations))).cast("int").as("s_nationkey")))
    write("orders", spark.range(n.orders).select(
      key(po, id).as("o_orderkey"),
      key(pc, pmod(h("oc", id), lit(n.customers))).as("o_custkey")))
    val s = n.suppliers
    val lines = spark.range(n.orders)
      .select(id.as("o"), explode(sequence(lit(1L),
        pmod(h("nl", id), lit(7L)) + 1)).as("ln"))
      .select(col("o"), pmod(h("lp", col("o"), col("ln")), lit(n.parts)).as("p"),
        pmod(h("ls", col("o"), col("ln")), lit(4L)).as("j"))
    write("lineitem", lines.select(
      key(po, col("o")).as("l_orderkey"),
      key(pp, col("p")).as("l_partkey"),
      key(ps, pmod(col("p") + col("j") * (lit(s / 4) + col("p") / s).cast("long"),
        lit(s))).as("l_suppkey")))
  }
}
