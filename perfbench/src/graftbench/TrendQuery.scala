package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.HarvestJob

/** `trend_query`: the read path. One op is one analytic call against a
  * two-week store harvested during set-up; the result is collected, as
  * a dashboard would. The mix rotates through seven op kinds, each in a
  * selective form (one entity or one day) and a broad form (all
  * entities, or a week); the seed picks the entity, day and week.
  *
  * Inputs: [[Cells]] cells × 96 15m slots × [[Days]] days of integer
  * counters, with three-hour outages on every eighth cell each day (so
  * gap filling has gaps); an attribute history with ~5% of cells
  * changing per day; [[AlarmsPerDay]] alarms per day; a versioned
  * cell → site relation where every tenth cell re-homes on day 7, and
  * a static site → region relation.
  */
final class TrendQuery(c: Ctx) extends Workload(c) {
  import TrendQuery._

  private var dir = ""
  private var rows = 0L
  private val results = mutable.Map.empty[(Int, Int), (Int, Array[Row])] // (kind, variant) → (op, rows)
  private var cellSite: DataFrame = _
  private var siteRegion: DataFrame = _
  private lazy val entityIds = (0 until Cells).map(cell => Gen.entityId(Network.cellDn(cell)))

  // ---- generator: every value is a pure function of (seed, coordinates)

  private def traffic(cell: Int, slot: Int): Long = Gen.below(10000, seed, 1, cell, slot).toLong
  private def drops(cell: Int, slot: Int): Long = Gen.below(20, seed, 3, cell, slot).toLong
  private def present(cell: Int, slot: Int): Boolean = cell % 8 != 5 || {
    val h0 = Gen.below(21, seed, 40, cell, slot / 96)
    val h = slot % 96 / 4
    h < h0 || h >= h0 + 3
  }
  /** Site of `cell` at epoch second `t`: every tenth cell moves to the next site on day 7. */
  private def siteAt(cell: Int, t: Long): Int =
    if (cell % 10 == 3 && t >= Gen.Epoch + RehomeDay * 86400L) (Network.site(cell) + 1) % Network.sites
    else Network.site(cell)
  private def attrChanges: Seq[(Int, Long, String, String)] =
    (0 until Cells).map(cell => (cell, Gen.Epoch, "v0", "unlocked")) ++
      (for (d <- 0 until Days; cell <- 0 until Cells if Gen.below(20, seed, 50, cell, d) == 0)
        yield (cell, Gen.Epoch + d * 86400L + Gen.below(86400, seed, 51, cell, d), s"v${d + 1}",
          if (Gen.below(2, seed, 52, cell, d) == 0) "unlocked" else "locked"))
  private def alarm(d: Int, k: Int): (String, Int, Long) =
    (s"A$d-$k", Gen.below(Cells, seed, 60, d, k), Gen.Epoch + d * 86400L + Gen.below(86400, seed, 61, d, k))

  def setup(d: String): Gen.Files = {
    dir = d
    results.clear()
    val files = new Gen.Files(d)
    val q = EtlCycle.q _
    rows = 0L
    (0 until Days).foreach { day =>
      files.write(s"in/trend/day$day.csv")(Iterator("dn,ts,traffic,attempts,drops") ++
        (day * 96 until (day + 1) * 96).iterator.flatMap(s => (0 until Cells).iterator
          .filter(present(_, s)).map { cell =>
            rows += 1
            s"${q(Network.cellDn(cell))},${Gen.timestamp(Gen.Epoch + s * 900L + cell % 60)}," +
              s"${traffic(cell, s)},${Gen.below(500, seed, 2, cell, s)},${drops(cell, s)}"
          }))
    }
    val changes = attrChanges
    files.write("in/attr/history.csv")(Iterator("dn,ts,sw_version,admin_state") ++
      changes.iterator.map { case (cell, ts, sw, st) => s"${q(Network.cellDn(cell))},${Gen.timestamp(ts)},$sw,$st" })
    files.write("in/alarm/alarms.csv")(Iterator("dn,ts,alarm_id,severity") ++
      (for (day <- 0 until Days; k <- 0 until AlarmsPerDay) yield alarm(day, k)).iterator.map {
        case (id, cell, ts) => s"${q(Network.cellDn(cell))},${Gen.timestamp(ts)},$id,${EtlCycle.Severities(cell % 3)}"
      })
    rows += changes.size + Days * AlarmsPerDay
    val rehome = Gen.timestamp(Gen.Epoch + RehomeDay * 86400L)
    val (lo, hi) = (Gen.timestamp(Gen.Epoch), Gen.timestamp(Gen.Epoch + 365 * 86400L))
    val cs = files.write("in/relations/cell_site.csv")(Iterator("cell_dn,site_dn,from_ts,to_ts") ++
      (0 until Cells).iterator.flatMap { cell =>
        val dn = q(Network.cellDn(cell))
        if (cell % 10 != 3) Iterator(s"$dn,${q(Network.siteDn(Network.site(cell)))},$lo,$hi")
        else Iterator(s"$dn,${q(Network.siteDn(Network.site(cell)))},$lo,$rehome",
          s"$dn,${q(Network.siteDn(siteAt(cell, Long.MaxValue)))},$rehome,$hi")
      })
    val sr = files.write("in/relations/site_region.csv")(Iterator("site_dn,region_dn,from_ts,to_ts") ++
      (0 until Network.sites).iterator.map(s => s"${q(Network.siteDn(s))},${q(Network.regionDn(Network.region(s)))},$lo,$hi"))
    def rel(path: String, child: org.apache.spark.sql.Column, parent: String, kind: String) =
      spark.read.option("header", "true").csv(path)
        .select(child.as("child_dn"), col(parent).as("parent_dn"),
          col("from_ts").cast("timestamp").as("from_ts"), col("to_ts").cast("timestamp").as("to_ts"),
          lit(kind).as("relation_type"))
        .write.mode("overwrite").parquet(s"$dir/stores/$kind")
    rel(cs, EntityRegistry.entityId(col("cell_dn")), "site_dn", "cell_site")
    rel(sr, col("site_dn"), "region_dn", "site_region")
    cellSite = spark.read.parquet(s"$dir/stores/cell_site")
    siteRegion = spark.read.parquet(s"$dir/stores/site_region")
    val fmt = EtlCycle.TsFormat
    trace.span("sources.harvest_trend")(HarvestJob.run(spark, HarvestJob.Job(s"$dir/in/trend", "csv",
      "dn", "Cell", "ts", fmt, "15m", s"$dir/stores/raw", s"$dir/state/trend")))
    trace.span("sources.harvest_attribute")(HarvestJob.run(spark, HarvestJob.Job(s"$dir/in/attr", "csv",
      "dn", "Cell", "ts", fmt, "raw", s"$dir/stores/attr_history", s"$dir/state/attr", target = "attribute")))
    trace.span("sources.harvest_notification")(HarvestJob.run(spark, HarvestJob.Job(s"$dir/in/alarm", "csv",
      "dn", "Cell", "ts", fmt, "raw", s"$dir/stores/notification", s"$dir/state/alarm",
      target = "notification", tieCol = Some("alarm_id"))))
    files
  }

  def mixLength: Int = 2 * Kinds.size
  def warmupRotations = 2
  def opKind(i: Int): String = Kinds(i % Kinds.size) + (if (variant(i) == 0) "/selective" else "/broad")
  def latencyName = "query"
  def throughputName = "queries_per_s"
  def throughputUnit = "1/s"
  def diskName = "store_bytes_per_row"
  private def variant(i: Int) = (i / Kinds.size) % 2

  /** Op parameters: a cell, a day and a week start, all seeded. */
  private def params(i: Int) =
    (Gen.below(Cells, seed, 100, i), Gen.below(Days, seed, 101, i), Gen.below(Days - 6, seed, 102, i))

  private def raw(from: Int, to: Int) =
    TrendStoreWriter.read(spark, s"$dir/stores/raw", Some(Gen.day(from)), Some(Gen.day(to)))
  private def hourly(df: DataFrame) = TrendStore.rollup(df, col("entity_id"), col("ts"), col("traffic"), "hour")
  private def one(df: DataFrame, cell: Int) = df.filter(col("entity_id") === entityIds(cell))
  private val trigger = Seq(Trigger.Rule("drops_high", "hour", Seq(Trigger.Threshold("drops", "sum", ">=", 60)), "major"))

  def op(i: Int): Long = {
    val (cell, day, week) = params(i)
    val sel = variant(i) == 0
    val kind = i % Kinds.size
    val out: Array[Row] = trace.span("query." + Kinds(kind)) {
      kind match {
        case 0 => // range read + rollup
          (if (sel) TrendStore.rollup(one(raw(day, day), cell), col("entity_id"), col("ts"), col("traffic"), "hour")
           else TrendStore.rollup(raw(week, week + 6), col("entity_id"), col("ts"), col("traffic"), "day"))
            .select(col("entity_id"), date_format(col("bucket"), "yyyy-MM-dd HH"), col("cnt"), col("sum_dec").cast("long"))
            .collect()
        case 1 => // hour → day cascade
          Aggregation.cascade(Seq(Aggregation.MetricAgg("traffic", "sum", "traffic_sum"),
            Aggregation.MetricAgg("drops", "max", "drops_max")), Seq("hour", "day"))(
            if (sel) one(raw(week, week + 6), cell) else raw(day, day), col("entity_id"), col("ts"))
            .select(col("granularity"), col("entity_id"), date_format(col("bucket"), "yyyy-MM-dd HH"),
              col("traffic_sum").cast("long"), col("drops_max"))
            .collect()
        case 2 => // region totals through the composed, versioned hierarchy
          val rel = Relations.composeTemporal(cellSite, siteRegion)
          val range = if (sel) raw(day, day) else raw(week, week + 6)
          TrendStore.entityRollupTemporal(hourly(range), rel, "child_dn", "parent_dn",
            "from_ts", "to_ts", col("sum_dec"))
            .select(col("parent"), col("cnt"), col("sum_value").cast("long")).collect()
        case 3 => // hourly gap fill
          val rolled = hourly(if (sel) one(raw(week, week + 6), cell) else raw(day, day))
            .select(col("entity_id"), col("bucket"), col("sum_dec").cast("double").as("sum_value"))
          TrendStore.gapFill(rolled, "hour").collect()
        case 4 => // attribute values as of a time / current view
          val hist = AttributeStoreWriter.readHistory(spark, s"$dir/stores/attr_history").drop("p_date")
          (if (sel) AttributeStore.atTime(one(hist, cell), col("entity_id"), col("ts"), col("event_id"),
             lit(Gen.timestamp(atTime(i))).cast("timestamp"))
           else AttributeStore.current(hist, col("entity_id"), col("ts"), col("event_id")))
            .select(col("entity_id"), col("sw_version"), col("admin_state")).collect()
        case 5 => // threshold trigger
          Trigger.evaluate(trigger)(if (sel) one(raw(week, week + 6), cell) else raw(day, day),
            col("entity_id"), col("ts"))
            .select(col("entity_id"), date_format(col("bucket"), "yyyy-MM-dd HH")).collect()
        case 6 => // notification window
          val (from, to) = if (sel) (week, week + 6) else (day, day)
          val n = TrendStoreWriter.read(spark, s"$dir/stores/notification", Some(Gen.day(from)), Some(Gen.day(to)))
          (if (sel) one(n, cell) else n).select(col("alarm_id")).collect()
      }
    }
    if (ctx.recording && !results.contains((kind, variant(i)))) results((kind, variant(i))) = (i, out)
    1L
  }

  private def atTime(i: Int): Long = Gen.Epoch + Gen.below(Days * 86400, seed, 103, i)

  // ---- plain-Scala references over the generator's model ------------

  private def slots(from: Int, to: Int) = (from * 96) until ((to + 1) * 96)
  private def hourKey(slot: Int) = Gen.timestamp(Gen.Epoch + slot / 4 * 3600L).take(13)
  private def dayKey(slot: Int) = Gen.day(slot / 96) + " 00"

  private def rollupRef(cells: Seq[Int], from: Int, to: Int, key: Int => String) =
    (for (cell <- cells; s <- slots(from, to) if present(cell, s)) yield ((entityIds(cell), key(s)), traffic(cell, s)))
      .groupBy(_._1).map { case (k, vs) => k -> (vs.size.toLong, vs.map(_._2).sum) }

  private def expected(kind: Int, sel: Boolean, i: Int): Option[Set[Seq[Any]]] = {
    val (cell, day, week) = params(i)
    val cells = if (sel) Seq(cell) else 0 until Cells
    kind match {
      case 0 =>
        val r = if (sel) rollupRef(cells, day, day, hourKey) else rollupRef(cells, week, week + 6, dayKey)
        Some(r.map { case ((e, b), (n, s)) => Seq(e, b, n, s) }.toSet)
      case 1 if sel =>
        Some((rollupRef(cells, week, week + 6, hourKey).map { case ((e, b), (_, s)) => Seq("hour", e, b, s) } ++
          rollupRef(cells, week, week + 6, dayKey).map { case ((e, b), (_, s)) => Seq("day", e, b, s) }).toSet)
      case 2 =>
        val (from, to) = if (sel) (day, day) else (week, week + 6)
        val perHour = for (c <- 0 until Cells; s <- slots(from, to) if s % 4 == 0;
                           hs = (s until s + 4).filter(present(c, _)) if hs.nonEmpty)
          yield (Network.regionDn(Network.region(siteAt(c, Gen.Epoch + s * 900L))), hs.map(traffic(c, _)).sum)
        Some(perHour.groupBy(_._1).map { case (r, vs) => Seq(r, vs.size.toLong, vs.map(_._2).sum) }.toSet)
      case 4 =>
        val at = if (sel) atTime(i) else Long.MaxValue
        Some(attrChanges.filter { case (c, ts, _, _) => cells.contains(c) && ts <= at }
          .groupBy(_._1).values.map(_.maxBy(_._2)).map { case (c, _, sw, st) => Seq(entityIds(c), sw, st) }.toSet)
      case 5 =>
        val (from, to) = if (sel) (week, week + 6) else (day, day)
        Some((for (c <- cells; s <- slots(from, to) if s % 4 == 0;
                   sum = (s until s + 4).filter(present(c, _)).map(drops(c, _)).sum if sum >= 60)
          yield Seq(entityIds(c), hourKey(s))).toSet)
      case 6 =>
        val (from, to) = if (sel) (week, week + 6) else (day, day)
        Some((for (d <- from to to; k <- 0 until AlarmsPerDay; (id, c, _) = alarm(d, k) if cells.contains(c))
          yield Seq(id)).toSet)
      case _ => None
    }
  }

  def check(): Seq[(String, Boolean)] =
    results.toSeq.sortBy(_._1).flatMap { case ((kind, v), (i, got)) =>
      expected(kind, v == 0, i).map { want =>
        // references cover the leading columns (the cascade's max is not modelled)
        val arity = want.headOption.fold(Int.MaxValue)(_.size)
        val g = got.map(r => r.toSeq.take(arity).map {
          case d: java.math.BigDecimal => d.longValue
          case x => x
        }).toSet
        val w = if (ctx.corruptExpected) want.take(math.max(0, want.size - 1)) else want
        if (g != w) println(s"  query ${opKind(i)} op $i: got ${g.size} rows, expected ${w.size}; " +
          s"e.g. got ${g.diff(w).take(2)} expected ${w.diff(g).take(2)}")
        s"query.${opKind(i)}" -> (g == w)
      }
    }

  def diskBytes(): Long = Disk.bytes(s"$dir/stores") + Disk.bytes(s"$dir/state")
  def itemsStored(): Long = rows
}

object TrendQuery {
  val Cells = 160
  val Days = 14
  val RehomeDay = 7
  val AlarmsPerDay = 60
  val Network = new Gen.Network(Cells, cellsPerSite = 8, sitesPerRegion = 5)
  val Kinds = Seq("range_rollup", "cascade", "entity_rollup", "gapfill", "attribute", "trigger", "notification")
}
