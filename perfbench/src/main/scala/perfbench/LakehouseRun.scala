package perfbench

import java.io.File
import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.sources.SnapshotManifest

/** The `lakehouse_dml` workload: the seeded statement stream through the
  * snapshot catalog's SQL door against a copy-on-write and a
  * merge-on-read table bootstrapped from `orders`. Every read is
  * compared with the sequential model right after it runs, outside its
  * timing; so is every time-travel version it touches and, at the end,
  * each whole table.
  */
final class LakehouseRun(spark: SparkSession, c: Main.Conf) {
  import Lakehouse._
  import Main._

  private val cat = "bench"
  private var state: Map[String, State] = Map.empty
  /** Per table: store version -> model state at that version. */
  private val history = mutable.Map[String, mutable.TreeMap[Int, State]]()
  private val wrong = mutable.Map[Long, String]()
  private var filesAdded = 0

  private def setWarehouse(dir: File): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftSnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", dir.getAbsolutePath)
  }

  private def root(t: String): Path =
    new File(spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), t).toPath

  /** Creates both tables from `<dir>/orders.parquet`; returns the model. */
  private def bootstrap(dir: String): State = {
    Tables.foreach { t =>
      spark.sql(
        s"""CREATE TABLE $cat.`$t` (o_orderkey BIGINT, o_custkey BIGINT,
           |  o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate DATE,
           |  o_orderpriority STRING, o_ym STRING, o_ym_p STRING)
           |PARTITIONED BY (o_ym_p)
           |TBLPROPERTIES ('key_column' = 'o_orderkey',
           |  'delete_mode' = '${Modes(t)}')""".stripMargin)
      spark.sql(
        s"""INSERT INTO $cat.`$t` SELECT o_orderkey, o_custkey, o_orderstatus,
           |  o_totalprice, CAST(o_orderdate AS DATE), o_orderpriority,
           |  date_format(o_orderdate, 'yyyy-MM'), date_format(o_orderdate, 'yyyy-MM')
           |FROM parquet.`$dir/orders.parquet`
           |WHERE o_orderdate < TIMESTAMP '$Until'""".stripMargin)
    }
    spark.read.parquet(s"$dir/orders.parquet")
      .where(s"o_orderdate < TIMESTAMP '$Until'").selectExpr("o_orderkey",
      "o_custkey", "o_orderstatus", "o_totalprice",
      "CAST(CAST(o_orderdate AS DATE) AS STRING)", "o_orderpriority")
      .collect().map(r => r.getLong(0) -> OrderRow(r.getLong(0), r.getLong(1),
        r.getString(2), r.getDouble(3), r.getString(4), r.getString(5))).toMap
  }

  /** Fresh tables and model; returns the key bound new keys start above. */
  private def reset(wh: File, dir: String): Long = {
    org.apache.commons.io.FileUtils.deleteQuietly(wh)
    wh.mkdirs()
    setWarehouse(wh)
    val s0 = bootstrap(dir)
    state = Tables.map(_ -> s0).toMap
    history.clear()
    Tables.foreach(t => history(t) = mutable.TreeMap(SnapshotManifest.head(root(t)) -> s0))
    s0.keys.max + 1
  }

  private def liveFiles(t: String, v: Int): Set[String] =
    SnapshotManifest.read(root(t), v).values.toSet.flatMap { (d: String) =>
      Option(new File(d).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSet
    }

  /** Runs one statement; checks reads and advances the model. Returns the
    * record and the milliseconds spent checking (excluded from timing).
    */
  private def statement(p: Int, st: Stmt): (OpRec, Double) = {
    val t = st.table
    val hist = history(t)
    val sql = st match {
      case tt: Stmt.TimeTravel =>
        val vs = hist.keys.toSeq.reverse
        tt.sql(cat, vs(math.min(tt.back, vs.size - 1)))
      case s => s.sql(cat)
    }
    var rows: Seq[String] = Nil
    val before = if (Tracer.on && st.kind == "write") liveFiles(t, hist.lastKey) else Set.empty[String]
    val rec = op(spark, p, s"${st.label}_$t", st.kind)(spark.sql(sql)) { df =>
      rows = df.collect().toSeq.map(_.toSeq.mkString("|"))
    }
    val c0 = Tracer.nowMs()
    if (rec.ok) st.kind match {
      case "read" =>
        val exp = st match {
          case tt: Stmt.TimeTravel =>
            val vs = hist.keys.toSeq.reverse
            Seq(aggregate(hist(vs(math.min(tt.back, vs.size - 1)))))
          case _ => expect(state(t), st)
        }
        if (rows != exp) wrong(rec.id) =
          s"${st.label} on $t: got ${rows.take(3)} expected ${exp.take(3)}"
      case _ =>
        state = state.updated(t, Lakehouse.apply(state(t), st))
        val head = SnapshotManifest.head(root(t))
        hist(head) = state(t)
        if (Tracer.on && st.kind == "write")
          filesAdded += (liveFiles(t, head) -- before).size
    }
    (rec, Tracer.nowMs() - c0)
  }

  def run(): RunResult = {
    val nKeys = reset(new File(c.out, "lakehouse"), c.data)
    stage("tables ready")
    // warm-up: round -1 of the stream, outside the timed window
    Lakehouse.round(c.seed, -1, nKeys).foreach(statement(-1, _))
    stage("warm-up done")
    val setupEnd = Tracer.nowMs()
    val (ops, passes) = loop(spark, c) { p =>
      val t0 = Tracer.nowMs()
      var checkMs = 0.0
      val recs = Lakehouse.round(c.seed, p, nKeys).map { st =>
        val (r, ms) = statement(p, st)
        checkMs += ms
        r
      }
      (recs, (Tracer.nowMs() - t0 - checkMs) / 1000.0)
    }
    // final check: each whole table against the model
    Tables.foreach { t =>
      val got = spark.sql(s"SELECT ${Stmt.Cols} FROM $cat.`$t` ORDER BY o_orderkey")
        .collect().toSeq.map(_.toSeq.mkString("|"))
      if (got != rows(state(t))) wrong(-1L - Tables.indexOf(t)) =
        s"final $t: ${got.size} rows vs model ${state(t).size}"
    }
    wrong.values.foreach(w => System.err.println(s"[perfbench] wrong: $w"))
    val marked = ops.map(o => wrong.get(o.id).fold(o)(w => o.copy(error = s"wrong: $w")))
    val finals = wrong.keys.count(_ < 0)
    RunResult(setupEnd, marked, passes, storeStats() ++
      Map("final_mismatches" -> finals.toDouble), Map.empty)
  }

  /** End-of-run store state from the manifests. */
  private def storeStats(): Map[String, Double] = {
    var versions, live, recs, liveBytes, storeBytes = 0.0
    Tables.foreach { t =>
      val r = root(t)
      val head = SnapshotManifest.head(r)
      versions += SnapshotManifest.versionsWithMtime(r).size
      val lf = liveFiles(t, head)
      live += lf.size
      liveBytes += lf.toSeq.map(f => new File(f).length().toDouble).sum
      recs += SnapshotManifest.deleteRecords(r, head).size +
        SnapshotManifest.upsertRecords(r, head).size
      storeBytes += org.apache.commons.io.FileUtils.sizeOfDirectory(r.toFile)
    }
    Map("versions" -> versions, "live_files" -> live, "mor_record_parts" -> recs,
      "space_amp" -> (if (liveBytes > 0) storeBytes / liveBytes else 0.0),
      "files_added" -> filesAdded.toDouble)
  }
}
