package perfbench

import scala.util.Random

/** One `orders` row as the lakehouse tables hold it. */
final case class OrderRow(key: Long, cust: Long, status: String,
                          price: Double, date: String, prio: String) {
  def ym: String = date.take(7)
  def sqlValues: String =
    s"(${key}L, ${cust}L, '$status', ${price}D, DATE '$date', '$prio', '$ym', '$ym')"
}

/** A statement of the `lakehouse_dml` stream. `kind` is `write`, `read`
  * or `maint` (the background compact and vacuum calls).
  */
sealed trait Stmt {
  def table: String
  def kind: String
  def label: String
  def sql(cat: String): String
}

object Stmt {
  val Cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
    "CAST(o_orderdate AS STRING), o_orderpriority, o_ym_p"

  final case class Update(table: String, month: String, lo: Long, hi: Long) extends Stmt {
    def kind = "write"; def label = "update"
    def sql(cat: String) =
      s"UPDATE $cat.`$table` SET o_totalprice = o_totalprice + 1.25D, " +
        s"o_orderstatus = 'U' WHERE o_ym_p = '$month' AND " +
        s"o_orderkey BETWEEN $lo AND $hi"
  }
  final case class Delete(table: String, month: String, lo: Long, hi: Long) extends Stmt {
    def kind = "write"; def label = "delete"
    def sql(cat: String) =
      s"DELETE FROM $cat.`$table` WHERE o_ym_p = '$month' AND " +
        s"o_orderkey BETWEEN $lo AND $hi"
  }
  final case class Merge(table: String, rows: Seq[OrderRow]) extends Stmt {
    def kind = "write"; def label = "merge"
    def sql(cat: String) =
      s"MERGE INTO $cat.`$table` AS t USING (SELECT * FROM VALUES " +
        rows.map(_.sqlValues).mkString(", ") +
        " AS s(o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
        "o_orderdate, o_orderpriority, o_ym, o_ym_p)) AS s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice " +
        "WHEN NOT MATCHED THEN INSERT *"
  }
  final case class Insert(table: String, rows: Seq[OrderRow]) extends Stmt {
    def kind = "write"; def label = "insert"
    def sql(cat: String) =
      s"INSERT INTO $cat.`$table` VALUES " + rows.map(_.sqlValues).mkString(", ")
  }
  final case class Compact(table: String) extends Stmt {
    def kind = "maint"; def label = "compact"
    def sql(cat: String) = s"CALL $cat.compact('$table', 2)"
  }
  final case class Vacuum(table: String) extends Stmt {
    def kind = "maint"; def label = "vacuum"
    def sql(cat: String) = s"CALL $cat.vacuum('$table', ${Lakehouse.KeepVersions}, 0)"
  }
  final case class PointRead(table: String, key: Long) extends Stmt {
    def kind = "read"; def label = "point"
    def sql(cat: String) =
      s"SELECT $Cols FROM $cat.`$table` WHERE o_orderkey = $key"
  }
  final case class MonthAgg(table: String, month: String) extends Stmt {
    def kind = "read"; def label = "month_agg"
    def sql(cat: String) =
      s"SELECT count(*), coalesce(sum(o_custkey), 0L), " +
        s"coalesce(max(o_totalprice), 0.0D), coalesce(min(o_totalprice), 0.0D) " +
        s"FROM $cat.`$table` WHERE o_ym_p = '$month'"
  }
  /** `back` versions behind the head at the time the statement runs. */
  final case class TimeTravel(table: String, back: Int) extends Stmt {
    def kind = "read"; def label = "time_travel"
    def sql(cat: String) = sql(cat, -1)
    def sql(cat: String, version: Int) =
      s"SELECT count(*), coalesce(sum(o_orderkey), 0L), " +
        s"coalesce(sum(o_custkey), 0L), coalesce(max(o_totalprice), 0.0D) " +
        s"FROM $cat.`$table` VERSION AS OF $version"
  }
}

/** The seeded statement stream and the sequential key-to-row model it is
  * checked against (the reference's `mrsequential` idea: one obviously
  * correct in-memory execution that every store answer must equal).
  */
object Lakehouse {
  import Stmt._

  val Tables = Seq("cow", "mor")
  val Modes = Map("cow" -> "copy-on-write", "mor" -> "merge-on-read")
  /** `vacuum` keeps this many versions; time travel reaches back less. */
  val KeepVersions = 12
  val MaxBack = 8

  /** The tables hold the `orders` rows of 1995 and 1996: 24 monthly
    * partitions per table.
    */
  val Months: IndexedSeq[String] =
    for (y <- 1995 to 1996; m <- 1 to 12) yield f"$y%04d-$m%02d"
  val Until = "1997-01-01"

  private val Statuses = Seq("F", "O", "P")
  private val Prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Round `round` of the stream for `seed`: per table one UPDATE, one
    * DELETE, one MERGE and one INSERT, a point read, a month aggregate
    * and a time-travel read, plus a compact and a vacuum of each table
    * (the background work), in seeded order. Every round has the
    * same mix, so rounds are comparable; keys, months and order change
    * with the seed. Bootstrap keys lie below `nKeys`; new keys are
    * minted above it, disjoint per round (round -1 is the warm-up).
    */
  def round(seed: Long, round: Int, nKeys: Long): Seq[Stmt] = {
    val rnd = new Random(seed * 1000003L + round)
    var next = nKeys + (round + 1).toLong * 1000L
    // months are drawn without replacement, so every round touches the
    // same number of distinct partitions
    var months = Iterator.empty[String]
    def month() = {
      if (!months.hasNext) months = rnd.shuffle(Months).iterator
      months.next()
    }
    def range(): (Long, Long) = {
      val lo = rnd.nextLong(nKeys); (lo, lo + nKeys / 50)
    }
    def row(key: Long, ym: String): OrderRow = {
      val day = 1 + rnd.nextInt(28)
      OrderRow(key, rnd.nextLong(math.max(nKeys / 10, 1)),
        Statuses(rnd.nextInt(3)), (100191 + rnd.nextInt(49880000)) / 100.0,
        f"$ym-$day%02d", Prios(rnd.nextInt(5)))
    }
    def fresh(n: Int): Seq[OrderRow] = {
      val ym = month()
      Seq.fill(n) { next += 1; row(next, ym) }
    }
    val perTable = Tables.flatMap { t =>
      val (u, d) = (range(), range())
      Seq(Update(t, month(), u._1, u._2), Delete(t, month(), d._1, d._2),
        Merge(t, (Seq.fill(3)(row(rnd.nextLong(nKeys), month())) ++ fresh(2))
          .distinctBy(_.key)),
        Insert(t, fresh(5)),
        PointRead(t, rnd.nextLong(next + 1)), MonthAgg(t, month()),
        TimeTravel(t, 1 + rnd.nextInt(MaxBack)))
    }
    rnd.shuffle(perTable ++ Tables.flatMap(t => Seq(Compact(t), Vacuum(t))))
  }

  /** Table state: key -> row. Immutable, so version history shares. */
  type State = Map[Long, OrderRow]

  /** The model's effect of a write statement. */
  def apply(s: State, st: Stmt): State = st match {
    case Update(_, m, lo, hi) =>
      s.map { case (k, r) =>
        if (r.ym == m && k >= lo && k <= hi)
          k -> r.copy(price = r.price + 1.25, status = "U")
        else k -> r
      }
    case Delete(_, m, lo, hi) =>
      s.filterNot { case (k, r) => r.ym == m && k >= lo && k <= hi }
    case Merge(_, rows) =>
      rows.foldLeft(s) { (acc, r) =>
        acc.get(r.key) match {
          case Some(old) => acc.updated(r.key, old.copy(price = r.price))
          case None => acc.updated(r.key, r)
        }
      }
    case Insert(_, rows) => rows.foldLeft(s)((acc, r) => acc.updated(r.key, r))
    case _ => s
  }

  /** The expected answer of a read, as the strings the store's row
    * renders to (`Row.toSeq.mkString("|")`).
    */
  def expect(s: State, st: Stmt): Seq[String] = st match {
    case PointRead(_, k) =>
      s.get(k).toSeq.map(r => Seq[Any](r.key, r.cust, r.status, r.price, r.date,
        r.prio, r.ym).mkString("|"))
    case MonthAgg(_, m) =>
      val rs = s.values.filter(_.ym == m)
      val ps = rs.map(_.price)
      Seq(Seq[Any](rs.size.toLong, rs.map(_.cust).sum,
        if (ps.isEmpty) 0.0 else ps.max, if (ps.isEmpty) 0.0 else ps.min).mkString("|"))
    case TimeTravel(_, _) => Seq(aggregate(s))
    case _ => Seq.empty
  }

  def aggregate(s: State): String = {
    val ps = s.values.map(_.price)
    Seq[Any](s.size.toLong, s.keys.sum, s.values.map(_.cust).sum,
      if (ps.isEmpty) 0.0 else ps.max).mkString("|")
  }

  /** Full-table rows in key order, rendered like `expect`. */
  def rows(s: State): Seq[String] =
    s.values.toSeq.sortBy(_.key).map(r =>
      Seq[Any](r.key, r.cust, r.status, r.price, r.date, r.prio, r.ym).mkString("|"))
}
