package graftbench

import scala.collection.mutable
import org.apache.spark.sql.functions._
import graft.operators.{EntityRegistry, Materialize}
import graft.sources.HarvestJob

/** `etl_cycle`: the write path. One op is one hourly harvest cycle:
  * the trend, attribute and notification harvest jobs load the files
  * that arrived, then the 15m → hour → day chain and the site-level
  * entity aggregation materialize what changed.
  *
  * Inputs: [[Cells]] cells under [[Network]]; one preloaded day whose
  * :45 packages were withheld; per cycle four on-time 15m packages,
  * one late package (a withheld :45 slot of a preloaded day), one
  * redelivered package (identical content under a new name), one
  * attribute-change file (~2% of cells) and one alarm file plus the
  * redelivery of the previous cycle's alarm file. Counters are
  * integers, so daily sums check exactly.
  */
final class EtlCycle(c: Ctx) extends Workload(c) {
  import EtlCycle._

  private var dir = ""
  private var files: Gen.Files = _
  private val delivered = mutable.Set.empty[Int]          // slots delivered, all cells each
  private val attrs = mutable.Map.empty[Int, (Long, String, String)] // cell → (ts, sw, state)
  private val alarms = mutable.Set.empty[String]
  private var rowsStored = 0L
  private var cycleRows = 0L
  private val dirtyMismatch = mutable.ArrayBuffer.empty[String]
  private val traced = mutable.ArrayBuffer.empty[(Long, Long, Int)] // (rows, trend rows, dirty days)

  private def trendJob = HarvestJob.Job(s"$dir/in/trend", "csv", "dn", "Cell", "ts",
    TsFormat, "15m", s"$dir/stores/raw", s"$dir/state/trend")
  private def attrJob = HarvestJob.Job(s"$dir/in/attr", "csv", "dn", "Cell", "ts",
    TsFormat, "raw", s"$dir/stores/attr_history", s"$dir/state/attr",
    target = "attribute", currentPath = Some(s"$dir/stores/attr_current"))
  private def alarmJob = HarvestJob.Job(s"$dir/in/alarm", "csv", "dn", "Cell", "ts",
    TsFormat, "raw", s"$dir/stores/notification", s"$dir/state/alarm",
    target = "notification", tieCol = Some("alarm_id"))
  private def defs = Seq(
    Materialize.MatDef("hour", s"$dir/stores/raw", s"$dir/stores/hour", s"$dir/state/hour",
      "hour", valueCol = Some("traffic")),
    Materialize.MatDef("day", s"$dir/stores/hour", s"$dir/stores/day", s"$dir/state/day", "day"),
    Materialize.MatDef("site_day", s"$dir/stores/day", s"$dir/stores/site_day",
      s"$dir/state/site_day", "day", relationPath = Some(s"$dir/stores/cell_site")))

  // ---- generator ----------------------------------------------------

  private def trendRows(slots: Seq[Int]): Iterator[String] =
    Iterator("dn,ts,traffic,attempts,drops") ++ slots.iterator.flatMap(s =>
      (0 until Cells).iterator.map(cell =>
        s"${q(Network.cellDn(cell))},${Gen.timestamp(slotTs(s) + cell % 60)}," +
          s"${traffic(cell, s)},${Gen.below(500, seed, 2, cell, s)},${Gen.below(20, seed, 3, cell, s)}"))

  private def traffic(cell: Int, slot: Int): Long = Gen.below(10000, seed, 1, cell, slot).toLong

  private def deliver(name: String, slots: Seq[Int]): Long = {
    files.write(s"in/trend/$name.csv")(trendRows(slots))
    delivered ++= slots
    slots.size.toLong * Cells
  }

  /** (alarm id, csv line) of cycle `i`'s alarm file. */
  private def alarmLines(i: Int): Seq[(String, String)] = (0 until AlarmsPerCycle).map { k =>
    val cell = Gen.below(Cells, seed, 20, i, k)
    val ts = Gen.timestamp(hourTs(FirstHour + i) + Gen.below(3600, seed, 21, i, k))
    s"A$i-$k" -> (s"${q(Network.cellDn(cell))},$ts,A$i-$k," +
      s"${Severities(Gen.below(3, seed, 22, i, k))},${Gen.below(900, seed, 23, i, k)}")
  }

  private def writeAlarms(name: String, lines: Seq[(String, String)]): Long = {
    files.write(s"in/alarm/$name.csv")(Iterator("dn,ts,alarm_id,severity,code") ++ lines.map(_._2))
    alarms ++= lines.map(_._1)
    lines.size.toLong
  }

  private def writeAttrs(name: String, rows: Seq[(Int, Long, String, String)]): Long = {
    files.write(s"in/attr/$name.csv")(Iterator("dn,ts,sw_version,admin_state") ++
      rows.map { case (cell, ts, sw, st) => s"${q(Network.cellDn(cell))},${Gen.timestamp(ts)},$sw,$st" })
    rows.foreach { case (cell, ts, sw, st) =>
      if (attrs.get(cell).forall(_._1 < ts)) attrs(cell) = (ts, sw, st)
    }
    rows.size.toLong
  }

  def setup(d: String): Gen.Files = {
    dir = d
    files = new Gen.Files(d)
    delivered.clear(); attrs.clear(); alarms.clear(); dirtyMismatch.clear(); traced.clear()
    var rows = 0L
    (0 until PreloadDays).foreach { day =>
      rows += deliver(s"day$day", (day * 96 until (day + 1) * 96).filter(_ % 4 != 3))
    }
    rows += writeAttrs("initial", (0 until Cells).map(cell => (cell, Gen.Epoch, "v0", "unlocked")))
    rows += writeAlarms("initial", Seq("A-init" -> s"${q(Network.cellDn(0))},${Gen.timestamp(Gen.Epoch)},A-init,minor,1"))
    val rel = files.write("in/relations/cell_site.csv")(Iterator("cell_dn,site_dn") ++
      (0 until Cells).iterator.map(cell => s"${q(Network.cellDn(cell))},${q(Network.siteDn(Network.site(cell)))}"))
    spark.read.option("header", "true").csv(rel)
      .select(EntityRegistry.entityId(col("cell_dn")).as("child_dn"), col("site_dn").as("parent_dn"))
      .write.mode("overwrite").parquet(s"$dir/stores/cell_site")
    harvestAndMaterialize()
    rowsStored = rows
    files
  }

  private def harvestAndMaterialize(): Int = {
    trace.span("sources.harvest_trend")(HarvestJob.run(spark, trendJob))
    trace.span("sources.harvest_attribute")(HarvestJob.run(spark, attrJob))
    trace.span("sources.harvest_notification")(HarvestJob.run(spark, alarmJob))
    val done = trace.span("materialize.run")(Materialize.runAll(spark, defs))
    done.find(_._1 == "hour").fold(0)(_._2.length)
  }

  def mixLength = 1
  def warmupRotations = 2
  def opKind(i: Int) = "cycle"
  def latencyName = "cycle"
  def throughputName = "etl_rows_per_s"
  def throughputUnit = "rows/s"
  def diskName = "store_bytes_per_row"

  private var expectDirty = 0
  private var trendRowsThisCycle = 0L

  override def prepare(i: Int): Unit = {
    val before = delivered.groupBy(_ / 96).map { case (d, s) => d -> s.size }
    val hour = FirstHour + i
    var rows = deliver(s"h${hour}", (0 until 4).map(hour * 4 + _))
    val lateDay = i % PreloadDays
    rows += deliver(s"late_$i", Seq(((lateDay * 24) + (i / PreloadDays) % 24) * 4 + 3))
    rows += deliver(s"redelivered_$i", Seq((hour - 1) * 4))
    trendRowsThisCycle = rows
    val after = delivered.groupBy(_ / 96).map { case (d, s) => d -> s.size }
    expectDirty = after.count { case (d, n) => before.getOrElse(d, 0) != n }
    val changed = (0 until Cells).filter(cell => Gen.below(50, seed, 10, cell, i) == 0)
    rows += writeAttrs(s"a$i", changed.map(cell => (cell, hourTs(hour) + (cell * 7) % 3600,
      s"v${1 + Gen.below(99, seed, 11, cell, i)}",
      if (Gen.below(2, seed, 12, cell, i) == 0) "unlocked" else "locked")))
    rows += writeAlarms(s"n$i", alarmLines(i))
    if (i > 0) rows += writeAlarms(s"n${i - 1}_redelivered", alarmLines(i - 1))
    cycleRows = rows
  }

  def op(i: Int): Long = {
    val dirty = harvestAndMaterialize()
    if (dirty != expectDirty && dirtyMismatch.size < 5)
      dirtyMismatch += s"cycle $i: materialize.dirty_days $dirty, generator touched $expectDirty"
    if (trace.enabled) traced += ((cycleRows, trendRowsThisCycle, dirty))
    rowsStored += cycleRows
    cycleRows
  }

  def check(): Seq[(String, Boolean)] = {
    val skew = ctx.skew
    val days = delivered.map(_ / 96).toSeq.sorted
    val expectCell = for (cell <- 0 until Cells; day <- days) yield {
      val slots = delivered.filter(_ / 96 == day).toSeq
      (Gen.entityId(Network.cellDn(cell)).toString, Gen.day(day)) ->
        (slots.size.toLong, slots.map(traffic(cell, _)).sum)
    }
    val expectDay = expectCell.toMap.updated(expectCell.head._1,
      (expectCell.head._2._1, expectCell.head._2._2 + skew))
    val expectSite = expectCell.groupBy { case ((id, day), _) =>
      (Network.siteDn(Network.site(cellOf(id))), day) }
      .map { case (k, vs) => k -> (vs.map(_._2._1).sum, vs.map(_._2._2).sum) }
    def store(path: String) = spark.read.parquet(path)
      .select(col("entity_id").cast("string"), date_format(col("bucket"), "yyyy-MM-dd"),
        col("cnt").cast("long"), col("sum_dec").cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val current = spark.read.parquet(s"$dir/stores/attr_current")
      .select(col("entity_id"), col("sw_version"), col("admin_state")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val expectCurrent = attrs.map { case (cell, (_, sw, st)) => Gen.entityId(Network.cellDn(cell)) -> (sw, st) }
    dirtyMismatch.foreach(m => println(s"  $m"))
    Seq(
      "etl.day_store_sums" -> (store(s"$dir/stores/day") == expectDay),
      "etl.site_day_store_sums" -> (store(s"$dir/stores/site_day") == expectSite),
      "etl.current_attributes" -> (current == expectCurrent),
      "etl.notification_count" ->
        (spark.read.parquet(s"$dir/stores/notification").count() == alarms.size + skew),
      "etl.dirty_days" -> dirtyMismatch.isEmpty)
  }

  private lazy val cellByEntity: Map[String, Int] =
    (0 until Cells).map(cell => Gen.entityId(Network.cellDn(cell)).toString -> cell).toMap
  private def cellOf(entity: String): Int = cellByEntity(entity)

  def diskBytes(): Long = Disk.bytes(s"$dir/stores") + Disk.bytes(s"$dir/state")
  def itemsStored(): Long = rowsStored

  override def layerFigures(): Map[String, Double] = {
    val harvest = Layers.opSpansOf(trace).filter(_.name == "sources.harvest_trend")
    val written = Layers.subtreeWork(trace, harvest).outputBytes.toDouble
    val n = math.max(1, traced.size)
    Map(
      "sources.rows_loaded" -> traced.map(_._1).sum.toDouble / n,
      "materialize.dirty_days" -> traced.map(_._3).sum.toDouble / n,
      "trendstore.bytes_written_per_row_ingested" -> written / math.max(1L, traced.map(_._2).sum))
  }
}

object EtlCycle {
  val Cells = 600
  val Network = new Gen.Network(Cells, cellsPerSite = 10, sitesPerRegion = 10)
  val PreloadDays = 1
  val FirstHour: Int = PreloadDays * 24
  val AlarmsPerCycle = 20
  val TsFormat = "yyyy-MM-dd HH:mm:ss"
  val Severities = Seq("minor", "major", "critical")
  /** CSV-quotes a field (distinguished names contain commas). */
  def q(field: String): String = "\"" + field + "\""
  def slotTs(slot: Int): Long = Gen.Epoch + slot * 900L
  def hourTs(hour: Int): Long = Gen.Epoch + hour * 3600L
}

/** Sizes, file counts and deletion of directory trees. */
object Disk {
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(x => bytes(x.getPath)).sum)
    else if (f.exists()) f.length() else 0L
  }
  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(x => delete(x.getPath)))
    f.delete()
  }
  def files(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(x => files(x.getPath)).sum)
    else if (f.exists()) 1L else 0L
  }
}
