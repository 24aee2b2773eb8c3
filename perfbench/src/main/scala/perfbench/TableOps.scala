package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Row, SparkSession}

/** Expected content of one table, kept from the op log alone. */
final class TableModel {
  private var v = new Array[Long](1 << 20)
  private var dayOf = new Array[Int](1 << 20)
  private val alive = new mutable.BitSet(1 << 20)
  /** Per day: ids of the day's contiguous seed range plus any added later. */
  val rangeStart = ArrayBuffer[Long]()
  val rangeLen = ArrayBuffer[Int]()
  val extra = ArrayBuffer[ArrayBuffer[Long]]()
  val dayCount = ArrayBuffer[Long]()
  val daySum = ArrayBuffer[Long]()

  private def grow(id: Long): Unit = while (id >= v.length) {
    v = java.util.Arrays.copyOf(v, v.length * 2)
    dayOf = java.util.Arrays.copyOf(dayOf, dayOf.length * 2)
  }

  def days: Int = dayCount.size
  def isAlive(id: Long): Boolean = alive(id.toInt)
  def value(id: Long): Long = v(id.toInt)
  def day(id: Long): Int = dayOf(id.toInt)

  /** A new day whose ids are `start until start + n`. */
  def addDay(start: Long, n: Int, value: Long => Long): Unit = {
    val d = days
    rangeStart += start; rangeLen += n; extra += ArrayBuffer()
    dayCount += 0; daySum += 0
    var id = start
    while (id < start + n) { put(id, d, value(id)); id += 1 }
  }

  private def put(id: Long, d: Int, value: Long): Unit = {
    grow(id)
    v(id.toInt) = value; dayOf(id.toInt) = d; alive += id.toInt
    dayCount(d) += 1; daySum(d) += value
  }

  def insert(id: Long, d: Int, value: Long): Unit = {
    extra(d) += id
    put(id, d, value)
  }

  def update(id: Long, value: Long): Unit = {
    val d = day(id)
    daySum(d) += value - v(id.toInt)
    v(id.toInt) = value
  }

  def delete(id: Long): Unit = {
    val d = day(id)
    alive -= id.toInt
    dayCount(d) -= 1; daySum(d) -= v(id.toInt)
  }

  /** The `i`-th id ever placed in day `d` (alive or not). */
  def idIn(d: Int, i: Int): Long =
    if (i < rangeLen(d)) rangeStart(d) + i else extra(d)(i - rangeLen(d))

  def idsInDay(d: Int): Int = rangeLen(d) + extra(d).size

  def range(a: Int, b: Int): (Long, Long) =
    ((a to b).map(dayCount(_)).sum, (a to b).map(daySum(_)).sum)
}

/** `table_ops`: SQL DML beside reads on a day-partitioned merge-on-read
  * graft table (`ev`) and a flat copy-on-write table (`twin`, seeded
  * with the same rows), both through `GraftCatalog` +
  * `GraftSqlExtensions`.
  *
  * Round r writes once to each table — `ev` gets kind r mod 4 and
  * `twin` kind (r + 2) mod 4 of INSERT (a new day), UPDATE, DELETE,
  * MERGE INTO, so any two consecutive rounds cover all four kinds —
  * then reads one table's fresh snapshot three ways (point lookups,
  * partition-range aggregates, `VERSION AS OF` the last tag), each
  * [[ReadsPerKind]] times, and re-reads the same predicates on the
  * unchanged snapshot. Every
  * [[MaintEvery]]-th round runs `CALL … vacuum` / `compact` and moves
  * the tags. Keys are Zipf-skewed toward recent days. Every answer is
  * checked against a [[TableModel]] per table, which only replays the
  * statements the benchmark issued.
  */
final class TableOps(spark: SparkSession, seed: Long) extends Workload {
  import TableOps._

  private var dir: Path = _
  private var cat: String = _
  private var round = 0
  private var nextId = 0L
  private var tag = 0
  private var digest = new InputDigest
  private var logged = 0
  private var rnd = new scala.util.Random(seed)
  /** Catalogs keep their warehouse for the JVM's life: one per setup. */
  private var setups = 0

  /** One table under test, its model, and its per-day (count, sum) at the last tag. */
  private final class Table(val name: String) {
    val m = new TableModel
    var tagged: (IndexedSeq[Long], IndexedSeq[Long]) = _
    def qualified: String = s"$cat.b.$name"
  }
  private var tables: Seq[Table] = Nil

  private val valueSalt = Util.below(Util.mix(seed, 42), 1000003).toLong
  private def valueOf(id: Long): Long = (id * 7919L + valueSalt) % 1000003L
  private val valueSql = s"pmod(id * 7919 + $valueSalt, 1000003)"

  private def dayStr(d: Int): String = BaseDay.plusDays(d).toString

  // two rounds run every write kind and one maintenance pass
  override def cycle: Int = MaintEvery

  private def log(sql: String): String = {
    if (logged < DigestStatements) { digest.add(sql); logged += 1 }
    sql
  }

  def seed(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    cat = s"bench$setups"
    setups += 1
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", d.resolve("wh").toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.b")
    tables = Seq(new Table("ev"), new Table("twin"))
    spark.sql(s"CREATE TABLE ${tables(0).qualified} (id BIGINT, day STRING, k BIGINT, " +
      "v BIGINT) USING graft PARTITIONED BY (day) " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read', 'keys' = 'id')")
    spark.sql(s"CREATE TABLE ${tables(1).qualified} (id BIGINT, day STRING, k BIGINT, " +
      "v BIGINT) USING graft TBLPROPERTIES ('keys' = 'id')")
    round = 0; tag = 0; logged = 0
    digest = new InputDigest
    rnd = new scala.util.Random(seed)
    nextId = SeedDays.toLong * RowsPerDay
    val seedSql = s"SELECT id, date_format(date_add(DATE'$BaseDay', " +
      s"CAST(id DIV $RowsPerDay AS INT)), 'yyyy-MM-dd') AS day, id % 1000 AS k, " +
      s"$valueSql AS v FROM range(0, $nextId)"
    digest.add(s"$seed|$seedSql")
    tables.foreach { t =>
      spark.sql(s"INSERT INTO ${t.qualified} $seedSql")
      (0 until SeedDays).foreach(dd =>
        t.m.addDay(dd.toLong * RowsPerDay, RowsPerDay, valueOf))
    }
    setTag()
  }

  /** Tag every table's live version `t<n>` and drop the previous tag. */
  private def setTag(): Unit = {
    tag += 1
    tables.foreach { t =>
      spark.sql(s"CALL $cat.system.set_ref(table => 'b.${t.name}', name => 't$tag')")
      if (tag > 1)
        spark.sql(s"CALL $cat.system.drop_ref(table => 'b.${t.name}', name => 't${tag - 1}')")
      t.tagged = (t.m.dayCount.toIndexedSeq, t.m.daySum.toIndexedSeq)
    }
  }

  def inputDigest: String = digest.hex

  // ---- key choice: Zipf over days, newest first ----
  private lazy val zipfCdf: Array[Double] = {
    val w = (1 to ZipfDays).map(r => 1.0 / math.pow(r, ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def zipfDay(m: TableModel): Int = {
    val u = rnd.nextDouble()
    val rank = zipfCdf.indexWhere(_ >= u) match { case -1 => ZipfDays - 1; case r => r }
    math.max(0, m.days - 1 - rank)
  }
  private def liveIdsIn(m: TableModel, d: Int, n: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet[Long]()
    var tries = 0
    while (out.size < n && tries < n * 20) {
      val id = m.idIn(d, rnd.nextInt(m.idsInDay(d)))
      if (m.isAlive(id)) out += id
      tries += 1
    }
    out.toSeq.sorted
  }

  /** A write of `kind` to `t`: its SQL, the rows it changes, and the
    * model change it makes.
    */
  private def write(t: Table, kind: Int): (String, Long, () => Unit) = {
    val m = t.m
    val name = t.qualified
    kind match {
      case 0 =>
        val d = m.days
        val start = nextId
        nextId += NewDayRows
        (s"INSERT INTO $name SELECT id, '${dayStr(d)}' AS day, id % 1000 AS k, " +
          s"$valueSql AS v FROM range($start, ${start + NewDayRows})", NewDayRows.toLong,
          () => m.addDay(start, NewDayRows, valueOf))
      case 1 =>
        val d = zipfDay(m)
        val ids = liveIdsIn(m, d, UpdateRows)
        val delta = 1 + rnd.nextInt(1000)
        (s"UPDATE $name SET v = v + $delta WHERE day = '${dayStr(d)}' AND id IN " +
          ids.mkString("(", ", ", ")"), ids.size.toLong,
          () => ids.foreach(id => m.update(id, m.value(id) + delta)))
      case 2 =>
        val d = zipfDay(m)
        val ids = liveIdsIn(m, d, DeleteRows)
        (s"DELETE FROM $name WHERE day = '${dayStr(d)}' AND id IN " +
          ids.mkString("(", ", ", ")"), ids.size.toLong,
          () => ids.foreach(m.delete))
      case _ =>
        val d = zipfDay(m)
        val matched = liveIdsIn(m, d, MergeMatched)
        val fresh = (0 until MergeInserted).map(i => nextId + i)
        nextId += MergeInserted
        val vals = matched.map(id => id -> (m.value(id) + 1 + rnd.nextInt(1000))) ++
          fresh.map(id => id -> valueOf(id))
        val src = vals.map { case (id, v) => s"(${id}L, '${dayStr(d)}', ${id % 1000}L, ${v}L)" }
          .mkString(", ")
        (s"MERGE INTO $name t USING (SELECT * FROM VALUES $src AS s(id, day, k, v)) s " +
          "ON t.id = s.id AND t.day = s.day " +
          "WHEN MATCHED THEN UPDATE SET v = s.v " +
          "WHEN NOT MATCHED THEN INSERT (id, day, k, v) VALUES (s.id, s.day, s.k, s.v)",
          vals.size.toLong,
          () => {
            matched.zip(vals).foreach { case (id, (_, v)) => m.update(id, v) }
            fresh.foreach(id => m.insert(id, d, valueOf(id)))
          })
    }
  }

  private def num(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
  private def pair(r: Row): (Long, Long) = (num(r, 0), num(r, 1))

  /** Point lookups, range aggregates and time-travel reads of `t`, each
    * with the check of its answer against the model.
    */
  private def reads(t: Table): Seq[(String, Seq[Row] => Unit)] = {
    val m = t.m
    (0 until ReadsPerKind).flatMap { _ =>
      val pd = zipfDay(m)
      val pid = m.idIn(pd, rnd.nextInt(m.idsInDay(pd)))
      val wantPoint = if (m.isAlive(pid)) Seq(dayStr(m.day(pid)) -> m.value(pid)) else Nil
      val a = math.max(0, zipfDay(m) - RangeDays + 1)
      val b = math.min(m.days - 1, a + RangeDays - 1)
      val vd = rnd.nextInt(t.tagged._1.size)
      Seq[(String, Seq[Row] => Unit)](
        s"SELECT day, v FROM ${t.qualified} WHERE id = $pid" -> { rows =>
          Check.equal(rows.map(r => r.getString(0) -> r.getLong(1)), wantPoint,
            s"point lookup id=$pid on ${t.name}")
        },
        s"SELECT count(*), sum(v) FROM ${t.qualified} WHERE day BETWEEN " +
          s"'${dayStr(a)}' AND '${dayStr(b)}'" -> { rows =>
          Check.equal(pair(rows.head), m.range(a, b), s"range $a..$b on ${t.name}")
        },
        s"SELECT count(*), sum(v) FROM ${t.qualified} VERSION AS OF 't$tag' " +
          s"WHERE day = '${dayStr(vd)}'" -> { rows =>
          Check.equal(pair(rows.head), (t.tagged._1(vd), t.tagged._2(vd)),
            s"VERSION AS OF t$tag day $vd on ${t.name}")
        })
    }
  }

  /** One round, timed as one op. */
  def step(rec: Recorder, sp: Spans): Unit = {
    val r = round
    round += 1
    rec.op(s"round $r") { op =>
      Seq(tables(0) -> r % 4, tables(1) -> (r + 2) % 4).foreach { case (t, kind) =>
        val (sql, changed, apply) = write(t, kind)
        op.addRows(changed)
        // the model follows the statement whatever its outcome: a failed
        // write shows up as failed reads, never as a skipped check
        try op.phase("write")(sp("sinks.write")(spark.sql(log(sql)).collect()))(_ => ())
        finally apply()
      }
      // fresh reads of the snapshot the writes produced, then the same
      // predicates again on the unchanged snapshot
      val rs = reads(tables(r % 2))
      for (kind <- Seq("read", "reread"); (sql, check) <- rs)
        op.phase(kind)(sp("sources.scan")(spark.sql(log(sql)).collect().toSeq))(check)
      if (round % MaintEvery == 0) maintain(op, sp)
    }
  }

  private def maintain(op: Recorder#Op, sp: Spans): Unit = {
    Seq(s"CALL $cat.system.vacuum(table => 'b.ev')",
      s"CALL $cat.system.compact(table => 'b.ev')",
      s"CALL $cat.system.vacuum(table => 'b.twin')").foreach { c =>
      op.phase("maint")(sp("sinks.maint")(spark.sql(log(c)).collect()))(_ => ())
    }
    op.phase("maint")(sp("sinks.maint")(setTag()))(_ => checkTables())
  }

  /** Every table's per-day (count, sum) equals its model. */
  def checkTables(): Unit = tables.foreach { t =>
    val got = spark.sql(s"SELECT day, count(*), sum(v) FROM ${t.qualified} GROUP BY day")
      .collect().map(r => r.getString(0) -> (r.getLong(1), num(r, 2))).toMap
    val want = (0 until t.m.days).filter(t.m.dayCount(_) > 0)
      .map(d => dayStr(d) -> (t.m.dayCount(d), t.m.daySum(d))).toMap
    Check.equal(got, want, s"per-day content of ${t.name}")
  }

  def tableRoots: Seq[Path] = Seq(dir.resolve("wh"))

  def compactBytes(scratch: Path): Long =
    tables.map(t => Util.compactBytes(spark, spark.table(t.qualified), scratch)).sum

  def filesAndVersions: (Long, Long) = {
    def meta(kind: String) = tables
      .map(t => spark.sql(s"SELECT count(*) FROM $cat.b.`${t.name}$$$kind`").head().getLong(0))
      .sum
    (meta("files"), meta("history"))
  }
}

object TableOps {
  val SeedDays = 10
  val RowsPerDay = 25000
  val NewDayRows = 5000
  val UpdateRows = 100
  val DeleteRows = 50
  val MergeMatched = 80
  val MergeInserted = 20
  val RangeDays = 3
  /** Fresh reads of each kind (point, range, time travel) per round. */
  val ReadsPerKind = 4
  val MaintEvery = 2
  val ZipfDays = 32
  val ZipfS = 1.2
  val DigestStatements = 24
  val BaseDay: LocalDate = LocalDate.of(2025, 1, 1)
}
