package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class LakehouseSpec extends AnyFunSuite {

  test("the statement stream is deterministic per seed and differs across seeds") {
    val a = (0 until 3).flatMap(r => Lakehouse.round(11L, r, 5000L))
    val b = (0 until 3).flatMap(r => Lakehouse.round(11L, r, 5000L))
    val c = (0 until 3).flatMap(r => Lakehouse.round(12L, r, 5000L))
    assert(a === b)
    assert(a !== c)
    assert(a.map(_.sql("cat")) !== c.map(_.sql("cat")))
    // every round has the same statement mix
    val mix = (r: Seq[Stmt]) => r.groupBy(s => (s.table, s.label)).map { case (k, v) => k -> v.size }
    assert(mix(Lakehouse.round(11L, 0, 5000L)) === mix(Lakehouse.round(12L, 4, 5000L)))
    // new keys never collide with bootstrap keys or across rounds
    val fresh = (-1 until 5).flatMap(r => Lakehouse.round(11L, r, 5000L)).collect {
      case Stmt.Insert(_, rows) => rows.map(_.key)
    }.flatten
    assert(fresh.forall(_ >= 5000L) && fresh.distinct.size === fresh.size)
  }

  test("the sequential model applies writes as the statements describe") {
    val rows = Seq(OrderRow(1, 10, "F", 100.0, "1995-01-03", "1-URGENT"),
      OrderRow(2, 20, "O", 200.0, "1995-01-09", "2-HIGH"),
      OrderRow(3, 30, "P", 300.0, "1995-02-01", "5-LOW"))
    val s0 = rows.map(r => r.key -> r).toMap
    val s1 = Lakehouse.apply(s0, Stmt.Update("t", "1995-01", 2, 3))
    assert(s1(2).price === 201.25 && s1(2).status === "U" && s1(3) === s0(3))
    val s2 = Lakehouse.apply(s1, Stmt.Delete("t", "1995-01", 1, 1))
    assert(s2.keySet === Set(2L, 3L))
    val s3 = Lakehouse.apply(s2, Stmt.Merge("t", Seq(
      OrderRow(3, 99, "F", 5.0, "1995-03-01", "1-URGENT"),
      OrderRow(4, 40, "F", 7.0, "1995-03-02", "1-URGENT"))))
    assert(s3(3) === s2(3).copy(price = 5.0) && s3(4).cust === 40L)
    assert(Lakehouse.expect(s3, Stmt.MonthAgg("t", "1995-01")) ===
      Seq("1|20|201.25|201.25"))
  }

  test("the sequential model agrees with the store on a short script") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val data = Files.createTempDirectory("perfbench-lh").toFile
      spark.range(0, 400).selectExpr("id * 3 AS o_orderkey",
        "id % 37 AS o_custkey", "element_at(array('F', 'O', 'P'), CAST(id % 3 + 1 AS INT)) AS o_orderstatus",
        "CAST(1000 + id * 7 AS DOUBLE) / 4 AS o_totalprice",
        "CAST(date_add(DATE '1995-01-01', CAST(id * 731 / 400 AS INT)) AS TIMESTAMP) AS o_orderdate",
        "'3-MEDIUM' AS o_orderpriority")
        .coalesce(1).write.parquet(new File(data, "orders.parquet").getPath)
      val out = new File(data, "out")
      val conf = Main.Conf("lakehouse_dml", 5L, 0.5, trace = false,
        data.getPath, data.getPath, out, 2)
      val res = new LakehouseRun(spark, conf).run()
      assert(res.ops.nonEmpty)
      assert(res.ops.forall(_.ok), res.ops.filterNot(_.ok).map(_.error))
      assert(res.sources("final_mismatches") === 0.0)
      assert(res.sources("versions") > 2.0)
    } finally spark.stop()
  }
}
