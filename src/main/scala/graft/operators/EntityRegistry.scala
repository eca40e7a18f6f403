package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity directory: the reference's registry of entities
  * (minerva/directory) — distinguished names, entity types, aliases —
  * re-expressed without a serving database.
  *
  * Minerva assigns entity ids from a PostgreSQL sequence; on a
  * cluster a sequence is a serialization point, so graft derives the
  * id DETERMINISTICALLY from the distinguished name: the first 15 hex
  * digits of md5(dn) as a 60-bit long. Properties that matter:
  *   - stable: re-harvesting the same dn always yields the same id,
  *     with no coordination between executors or runs;
  *   - portable: any engine with md5 can recompute it (the DuckDB
  *     oracle does);
  *   - collision-safe in practice: P(collision) ≈ n²/2⁶¹ — at 10⁹
  *     entities ≈ 4·10⁻⁴ for the whole registry.
  */
object EntityRegistry {

  /** Deterministic 60-bit entity id from a distinguished name. */
  def entityId(dn: Column): Column =
    conv(substring(md5(dn), 1, 15), 16, 10).cast("long")

  /** Build a registry `(dn, entity_type, alias, entity_id)` from a
    * source of distinguished names. Distinct on dn — re-registration
    * is idempotent. */
  def register(src: DataFrame, dn: Column, entityType: Column, alias: Column): DataFrame =
    src.select(dn.as("dn"), entityType.as("entity_type"), alias.as("alias"))
      .distinct()
      .withColumn("entity_id", entityId(col("dn")))

  /** Sync a persisted registry with newly-seen entities — the
    * reference's directory behavior where a harvest registers unknown
    * dns on the fly. Because ids are content-derived (no sequence),
    * sync is a pure set union: only dns absent from the store are
    * appended, re-syncing the same dns is a no-op, and concurrent
    * harvests of the same dn agree on the id without coordination.
    * Returns the number of newly registered entities.
    *
    * Scale shape: the store read prunes to two columns; the anti-join
    * is one registry-sized shuffle (or broadcast when the incoming
    * batch is small — the common case: a harvest run sees few NEW
    * entities); the append writes only the new rows. */
  def sync(spark: org.apache.spark.sql.SparkSession, path: String,
           src: DataFrame, dn: Column, entityType: Column, alias: Column): Long = {
    val incoming = register(src, dn, entityType, alias)
    val fresh =
      if (!StoreFs.exists(spark, path)) incoming
      else incoming.join(StoreFs.read(spark, path).select(col("dn")),
        Seq("dn"), "left_anti")
    // localCheckpoint: the append below must not re-trigger the plan
    // that read the store it appends to.
    val materialized = fresh.localCheckpoint()
    val n = materialized.count()
    if (n > 0) materialized.write.mode("append").parquet(path)
    n
  }

  /** Resolve names to entity ids through the registry: matches the dn
    * itself or the alias (Minerva's alias lookup).
    *
    * The registry is exploded into a `(lookup_name, dn, entity_id)`
    * table (dn rows ∪ alias rows) so the probe is a single broadcast
    * HASH equi-join on the name. The naive OR predicate
    * (`name === dn || name === alias`) cannot hash-partition and
    * Spark plans a broadcast nested-loop join — |names| · |registry|
    * comparisons, the classic hidden scale-killer at 100 TB. */
  def resolve(names: DataFrame, nameCol: String, registry: DataFrame): DataFrame = {
    val lookup = registry
      .select(explode(array_distinct(array(col("dn"), col("alias")))).as("__lookup"),
        col("dn"), col("entity_id"))
      .distinct()
    names.join(broadcast(lookup), names(nameCol) === lookup("__lookup"), "left")
      .drop("__lookup")
  }

  /** Collapse a tag-link table `(entity_id, tag)` into per-entity
    * sorted tag sets — the reference's entity tagging (minerva
    * directory: tags + tag groups attached to entities, queried as
    * memberships). One combine-friendly groupBy on the entity key;
    * the sort makes the set deterministic for any engine. */
  def tagSets(links: DataFrame): DataFrame =
    links.groupBy(col("entity_id"))
      .agg(sort_array(collect_set(col("tag"))).as("tag_set"),
        countDistinct(col("tag")).as("n_tags"))

  /** Per-tag membership counts over a tag-link table — the directory
    * query behind "how many entities carry tag X". */
  def tagStats(links: DataFrame): DataFrame =
    links.groupBy(col("tag"))
      .agg(countDistinct(col("entity_id")).as("n_entities"))

  /** Directory-sync audit: the registry full-outer-joined against
    * observed per-entity activity — the directory drift question
    * ("which registered entities went silent, what's emitting data we
    * never registered"). One row per dn seen on EITHER side: status
    * active / silent (registered, no data) / unregistered (data, no
    * registry row), row count (0 when silent) and last-active
    * timestamp (NULL when silent).
    *
    * Scale shape: activity collapses to O(entities) rows first via one
    * map-side-combinable groupBy on the dn, then joins the registry on
    * the same dn key — raw data rows never cross the join, and the
    * full-outer join carries two entity-sized sides. */
  def syncStatus(registry: DataFrame, activity: DataFrame,
                 activityDn: Column, activityTs: Column): DataFrame = {
    val act = activity.groupBy(activityDn.as("dn"))
      .agg(count(lit(1)).as("n_rows"), max(activityTs).as("last_active"))
    registry.select(col("dn"), col("entity_id"))
      .join(act, Seq("dn"), "full_outer")
      .select(col("dn"),
        when(col("entity_id").isNull, lit("unregistered"))
          .when(col("n_rows").isNull, lit("silent"))
          .otherwise(lit("active")).as("status"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        col("last_active"))
  }
}
