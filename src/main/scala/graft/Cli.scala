package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, to_json}
import graft.operators.{Aggregation, AttributeStoreWriter, Dedup, Materialize, StoreFs, TrendStoreWriter, Trigger}
import graft.sources.HarvestJob

/** Thin CLI over the library — the `minerva harvest` / `minerva
  * materialize` / `minerva aggregation` command surface
  * (python-minerva-etl's entry points), so the batch jobs a reference
  * deployment schedules translate one-for-one:
  *
  * {{{
  * graft.Cli harvest --source DIR --format csv --dn-col dn \
  *   --entity-component Cell --ts-col timestamp \
  *   --ts-format 'yyyy-MM-dd HH:mm:ss' --granularity 15m \
  *   --store S --state ST [--pattern RE] [--row-tag row] \
  *   [--target trend|attribute|notification] [--tie COL] [--current PATH] \
  *   [--reject PATH]   (quarantine malformed rows instead of dropping)
  * graft.Cli materialize --source PARQUET --entity C --ts C --value C \
  *   --granularity hour --store S --state ST
  * graft.Cli aggregate --source PARQUET --entity C --ts C \
  *   --granularity day [--granularity month …] \
  *   --metric value:sum:sum_v [--metric value:p95@0.001:p95_v …] \
  *   --out OUT   (or --config FILE)
  * graft.Cli trigger --source PARQUET --entity C --ts C \
  *   --rule name:gran:metric:fn:op:value:severity [--rule …] --out OUT
  *   (or --config FILE — multi-threshold rules)
  * graft.Cli materialize-all --config FILE
  * graft.Cli retain --store S --keep-from YYYY-MM-DD \
  *   [--downsample-to COARSE --granularity day]   (tiered retention)
  * graft.Cli compact --history H --value C [--entity C] [--ts C] [--tie C]
  * graft.Cli dedup --docs PARQUET --out OUT \
  *   [--method exact|minhash|simhash|paragraph] [--id doc_id] [--text text]
  * graft.Cli decontaminate --docs PARQUET --bench PARQUET --out OUT \
  *   [--k 3] [--threshold 0.5]
  * graft.Cli index-build --corpus PARQUET --index DIR \
  *   [--kind ivf|pq|ivfpq|text] [--id vec_id] [--vec embedding] \
  *   [--cells 16] [--m 8] [--codes 16] [--residual BOOL] [--rotate BOOL] \
  *   (text: [--id doc_id] [--text text] [--batch ID] — incremental add)
  * graft.Cli index-search --queries PARQUET --index DIR --out OUT \
  *   [--kind ivf|pq|ivfpq] [--k 10] [--nprobe 4] [--rerank 4] \
  *   [--allowed PARQUET]   (metadata filter: first column = permitted ids)
  * graft.Cli text-search --index DIR --tokens a,b,c --out OUT \
  *   [--mode bm25|bool] [--k 100] [--k1 1.2] [--b 0.75] [--min-match 1] \
  *   [--allowed PARQUET]   (metadata filter: first column = permitted ids)
  * graft.Cli gapfill --store S --granularity hour|900|15m|... --out OUT \
  *   [--mode forward|interpolate] [--value sum_dec]
  * graft.Cli compact-index --index DIR [--files 8] \
  *   [--method auto|exact|near|ann|text]
  * graft.Cli cluster --store S --by entity_id   (re-cluster day partitions)
  *   | --data PARQUET --by c1,c2 --out OUT [--files 16] [--bits 16]  (Z-order)
  * graft.Cli shard --docs PARQUET --out OUT [--shards 8] [--id doc_id]
  *   (deterministic training-order shuffle-and-shard)
  * graft.Cli explain --key q01_pricing_summary --sf-dir DIR
  *   [--mode formatted|simple|extended|cost]   (plan audit, no execution)
  * graft.Cli dump --store S --out DIR [--format csv|jsonl] \
  *   [--from YYYY-MM-DD] [--to YYYY-MM-DD] [--columns a,b,c] [--files N]
  *   (export a store back out for non-Spark consumers; date range
  *   prunes p_date partitions, --columns prunes the read schema)
  * graft.Cli store-info --store S [--counts true]   (schema + partition range)
  * graft.Cli audit --store S [--granularity hour] [--top 5]
  *   (health report: grid coverage + the longest outage windows)
  * graft.Cli index-info --index DIR   (layout autodetect + size/params)
  * graft.Cli harvest-stream --source DIR --format csv … --checkpoint DIR \
  *   [--once true] [--glob RE]   (continuous harvest; --once drains + exits)
  * }}}
  *
  * All heavy lifting stays in the library operators; the CLI only
  * parses flags and reports what happened on stdout.
  */
object Cli {

  private def parseFlags(args: Seq[String]): Map[String, Seq[String]] =
    args.grouped(2).foldLeft(Map.empty[String, Seq[String]]) {
      case (acc, Seq(flag, value)) if flag.startsWith("--") =>
        acc.updated(flag.drop(2), acc.getOrElse(flag.drop(2), Seq.empty) :+ value)
      case (_, other) =>
        throw new IllegalArgumentException(s"expected --flag value pairs, got: ${other.mkString(" ")}")
    }

  private def one(flags: Map[String, Seq[String]], name: String): String =
    flags.getOrElse(name, throw new IllegalArgumentException(s"missing --$name")).last

  private def opt(flags: Map[String, Seq[String]], name: String, default: String): String =
    flags.get(name).map(_.last).getOrElse(default)

  def run(spark: SparkSession, args: Seq[String]): Unit = args.toList match {
    case "harvest" :: rest =>
      val f = parseFlags(rest)
      // --config FILE: a whole set of harvest jobs from one definition
      // file (the reference's harvest job configs); flags run one job.
      val jobs = f.get("config") match {
        case Some(paths) => Config.parseHarvest(
          java.nio.file.Files.readString(java.nio.file.Path.of(paths.last)))
        case None => Seq(HarvestJob.Job(
          sourceDir = one(f, "source"), format = one(f, "format"),
          dnCol = one(f, "dn-col"), entityComponent = one(f, "entity-component"),
          tsCol = one(f, "ts-col"), tsFormat = one(f, "ts-format"),
          granularity = one(f, "granularity"),
          storePath = one(f, "store"), statePath = one(f, "state"),
          pattern = opt(f, "pattern", ".*"), rowTag = opt(f, "row-tag", "row"),
          target = opt(f, "target", "trend"),
          tieCol = f.get("tie").map(_.last),
          currentPath = f.get("current").map(_.last),
          rejectPath = f.get("reject").map(_.last)))
      }
      jobs.foreach { job =>
        val result = HarvestJob.run(spark, job)
        println(s"harvest: target=${job.target} store=${job.storePath} " +
          s"processed=${result.processed.size} skipped=${result.skipped.size}")
      }

    case "harvest-stream" :: rest =>
      // Continuous twin of `harvest`: Structured Streaming file
      // source with a checkpointed file log (exactly-once per file).
      // `--once true` (default) drains what's currently in the
      // directory and exits — the cron-friendly shape; `--once false`
      // runs until killed, the always-on daemon the reference's
      // scheduled harvesting approximates with frequent job runs.
      val f = parseFlags(rest)
      val job = HarvestJob.Job(
        sourceDir = one(f, "source"), format = one(f, "format"),
        dnCol = one(f, "dn-col"), entityComponent = one(f, "entity-component"),
        tsCol = one(f, "ts-col"), tsFormat = one(f, "ts-format"),
        granularity = one(f, "granularity"),
        storePath = one(f, "store"), statePath = one(f, "state"),
        target = opt(f, "target", "trend"),
        tieCol = f.get("tie").map(_.last),
        currentPath = f.get("current").map(_.last))
      val q = HarvestJob.stream(spark, job, one(f, "checkpoint"),
        glob = f.get("glob").map(_.last))
      if (opt(f, "once", "true").toBoolean) {
        q.processAllAvailable(); q.stop()
        println(s"harvest-stream: drained target=${job.target} store=${job.storePath}")
      } else q.awaitTermination()

    case "materialize" :: rest =>
      val f = parseFlags(rest)
      val source = spark.read.parquet(one(f, "source"))
      val dirty = Materialize.run(source,
        col(one(f, "entity")), col(one(f, "ts")), col(one(f, "value")),
        one(f, "granularity"), one(f, "state"), one(f, "store"))
      println(s"materialize: dirty_days=${dirty.length}")

    case "aggregate" :: rest =>
      val f = parseFlags(rest)
      // --config FILE: the declarative definition-file form the
      // reference's aggregation CLI consumes; flags otherwise.
      val (srcPath, entity, ts, outPath, grans, metrics, derived) = f.get("config") match {
        case Some(paths) =>
          val c = Config.parseAggregate(
            java.nio.file.Files.readString(java.nio.file.Path.of(paths.last)))
          (c.source, c.entity, c.ts, c.out, c.granularities, c.metrics, c.derivedMetrics)
        case None =>
          // source:fn:alias, optionally :where — the 4th part is a SQL
          // boolean filtering the metric's rows (split limit 4 keeps
          // colons inside the predicate intact). The fn part takes an
          // @suffix whose meaning follows the fn: `wavg@weightcol`
          // names the weighted mean's weight; `p95@0.001` sets a
          // sketch percentile's rank-error eps (config files pass
          // "weight" / "eps" fields instead).
          def splitFn(fn: String): (String, Option[String], Option[Double]) =
            fn.split("@", 2) match {
              case Array(f0, s) if Aggregation.isPctFn(f0) =>
                val e = try s.toDouble catch { case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"--metric: $f0@$s — a sketch percentile's @suffix is " +
                      "its eps and must be a number (e.g. p95@0.001)")
                }
                (f0, None, Some(e))
              case Array(f0, w) => (f0, Some(w), None)
              case _            => (fn, None, None)
            }
          val ms = f.getOrElse("metric",
            throw new IllegalArgumentException("at least one --metric source:fn:alias required"))
            .map(_.split(":", 4) match {
              case Array(src, fn, as) =>
                val (f0, w, e) = splitFn(fn)
                Aggregation.MetricAgg(src, f0, as, None, w, e)
              case Array(src, fn, as, where) =>
                val (f0, w, e) = splitFn(fn)
                Aggregation.MetricAgg(src, f0, as, Some(where), w, e)
              case other => throw new IllegalArgumentException(
                s"--metric must be source:fn:alias[:where], got: ${other.mkString(":")}")
            })
          // repeated --granularity flags run the cascade: one raw scan
          // at the finest level, coarser levels from partials.
          val gs = f.getOrElse("granularity",
            throw new IllegalArgumentException("missing --granularity"))
          // alias:sql — a post-agg formula over the metric aliases
          // (split limit 2 keeps colons inside the expression intact)
          val dv = f.getOrElse("derived", Nil).map(_.split(":", 2) match {
            case Array(as, sql) => Aggregation.DerivedMetric(as, sql)
            case other => throw new IllegalArgumentException(
              s"--derived must be alias:sql, got: ${other.mkString(":")}")
          })
          (one(f, "source"), one(f, "entity"), one(f, "ts"), one(f, "out"), gs, ms, dv)
      }
      val source = spark.read.parquet(srcPath)
      val out =
        if (grans.size == 1)
          Aggregation.compile(Aggregation.AggregationDef(grans.head, metrics, derived))(
            source, col(entity), col(ts))
        else
          // cascade rows carry the same metric aliases at every
          // granularity, so derived formulas project uniformly on top
          derived.foldLeft(
              Aggregation.cascade(metrics, grans)(source, col(entity), col(ts)))(
            (df, d) => df.withColumn(d.as, expr(d.sql)))
      TrendStoreWriter.write(out, outPath)
      println(s"aggregate: metrics=${metrics.size} derived=${derived.size} " +
        s"granularities=${grans.size} out=$outPath")

    // The `minerva trigger` loop: evaluate threshold rules, store the
    // firings as a time-partitioned notification table.
    case "trigger" :: rest =>
      val f = parseFlags(rest)
      // --config FILE: multi-threshold rules (ANDed), the reference's
      // trigger definition-file shape; single-threshold --rule flags
      // otherwise.
      val (srcPath, entity, ts, outPath, rules, maint) = f.get("config") match {
        case Some(paths) =>
          val c = Config.parseTrigger(
            java.nio.file.Files.readString(java.nio.file.Path.of(paths.last)))
          // an explicit --maintenance flag overrides the config's path
          (c.source, c.entity, c.ts, c.out, c.rules,
            f.get("maintenance").map(_.last).orElse(c.maintenance))
        case None =>
          val rs = f.getOrElse("rule",
            throw new IllegalArgumentException(
              "at least one --rule name:gran:metric:fn:op:value:severity required"))
            .map(_.split(":") match {
              case Array(name, gran, metric, fn, op, value, severity) =>
                Trigger.Rule(name, gran,
                  Seq(Trigger.Threshold(metric, fn, op, value.toDouble)), severity)
              case other => throw new IllegalArgumentException(
                s"--rule must be name:gran:metric:fn:op:value:severity, got: ${other.mkString(":")}")
            })
          (one(f, "source"), one(f, "entity"), one(f, "ts"), one(f, "out"), rs,
            f.get("maintenance").map(_.last))
      }
      val source = spark.read.parquet(srcPath)
      val evaluated = Trigger.evaluate(rules)(source, col(entity), col(ts))
      // maintenance: a declared-windows parquet (entity_id, from_ts,
      // to_ts) flags covered firings muted=1 — visible for audit,
      // skipped by the pager (filter muted = 0 downstream)
      val fired = maint match {
        case Some(path) =>
          Trigger.applyMaintenance(evaluated, spark.read.parquet(path))
        case None => evaluated
      }
      TrendStoreWriter.write(fired, outPath)
      println(s"trigger: rules=${rules.size} " +
        maint.map(_ => "maintenance=on ").getOrElse("") +
        s"out=$outPath")

    // The reference's materialization daemon: run a whole SET of
    // materializations, derived stores feeding derived stores, from
    // one config file (see Materialize.runAll).
    case "materialize-all" :: rest =>
      val f = parseFlags(rest)
      val defs = Config.parseMaterialize(
        java.nio.file.Files.readString(java.nio.file.Path.of(one(f, "config"))))
      val results = Materialize.runAll(spark, defs)
      results.foreach { case (name, days) =>
        println(s"materialize-all: $name recomputed=${days.length}")
      }

    case "retain" :: rest =>
      val f = parseFlags(rest)
      // --downsample-to switches to tiered retention: expired days
      // roll up into the coarse store BEFORE the drop (crash-safe:
      // re-runs re-upsert idempotently, then complete the drop)
      val dropped = f.get("downsample-to") match {
        case Some(coarse) => TrendStoreWriter.tieredRetain(spark,
          one(f, "store"), coarse.last, one(f, "keep-from"),
          opt(f, "granularity", "day"))
        case None =>
          TrendStoreWriter.retain(spark, one(f, "store"), one(f, "keep-from"))
      }
      println(s"retain: dropped=${dropped.size}")

    // The reference's delete-timestamp: remove one bucket's rows
    // across the store (corrupt vendor period → delete, re-harvest).
    // Only the bucket's own day partition is read and rewritten.
    case "delete-ts" :: rest =>
      val f = parseFlags(rest)
      val removed = TrendStoreWriter.deleteBucket(spark,
        one(f, "store"), one(f, "bucket"))
      println(s"delete-ts: removed=$removed")

    case "compact" :: rest =>
      val f = parseFlags(rest)
      // --value a single column keeps the reference's three-valued
      // compaction; a comma list compacts on the FULL attribute set
      // null-safely (compactHistoryAll — the evolved-store form).
      val values = one(f, "value").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val (dropped, days) =
        if (values.size == 1)
          AttributeStoreWriter.compactHistory(spark, one(f, "history"), values.head,
            opt(f, "entity", "entity_id"), opt(f, "ts", "ts"), opt(f, "tie", "event_id"))
        else
          AttributeStoreWriter.compactHistoryAll(spark, one(f, "history"), values,
            opt(f, "entity", "entity_id"), opt(f, "ts", "ts"), opt(f, "tie", "event_id"))
      println(s"compact: dropped=$dropped days=${days.size}")

    // Layout maintenance: re-cluster a trend store's day partitions
    // on the entity key (row-group stats pruning — see
    // TrendStoreWriter.write), or Z-order any parquet dataset on
    // several columns (multi-dimension file pruning — see Layout).
    // The store form is temp-then-swap crash-safe like compact-index.
    case "cluster" :: rest =>
      val f = parseFlags(rest)
      val by = one(f, "by").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (f.contains("store")) {
        val path = one(f, "store")
        // same single-writer lease as materialize/harvest: a rewrite
        // racing a store writer would swap away its partitions
        Materialize.withLease(spark, path + ".lease") {
          StoreFs.rewrite(spark, path)(tmp => TrendStoreWriter.write(
            TrendStoreWriter.read(spark, path).drop("p_date"), tmp, clusterBy = by))
        }
        println(s"cluster: store=$path by=${by.mkString(",")}")
      } else {
        val outP = one(f, "out")
        graft.operators.Layout.zorderBy(spark.read.parquet(one(f, "data")), by,
            opt(f, "files", "16").toInt, opt(f, "bits", "16").toInt)
          .write.mode("overwrite").parquet(outP)
        println(s"cluster: out=$outP by=${by.mkString(",")} zorder")
      }

    // Plan introspection: print any SparkEntry key's formatted
    // physical plan without executing it — the `EXPLAIN` the
    // reference gets from PostgreSQL, for auditing pushdown/pruning/
    // join strategy on real data before a job runs.
    case "explain" :: rest =>
      val f = parseFlags(rest)
      val key = one(f, "key")
      val q = SparkEntry.queries.getOrElse(key,
        throw new IllegalArgumentException(
          s"unknown key $key; known: ${SparkEntry.queries.keySet.toSeq.sorted.mkString(", ")}"))
      println(q(spark, one(f, "sf-dir")).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString(
          opt(f, "mode", "formatted"))))

    // Training-data sharding: materialize the deterministic global
    // shuffle (Sampling.shardWrite) — one directory per shard, rows
    // in training order.
    case "shard" :: rest =>
      val f = parseFlags(rest)
      val n = opt(f, "shards", "8").toInt
      graft.operators.Sampling.shardWrite(
        spark.read.parquet(one(f, "docs")), opt(f, "id", "doc_id"), n, one(f, "out"))
      println(s"shard: out=${one(f, "out")} shards=$n")

    // Training-data curation entry points — the batch jobs an LLM
    // data pipeline schedules, same flag style as the Minerva ones.
    case "dedup" :: rest =>
      val f = parseFlags(rest)
      val docs = spark.read.parquet(one(f, "docs"))
      val id = opt(f, "id", "doc_id"); val text = opt(f, "text", "text")
      val pairs = opt(f, "method", "minhash") match {
        case "exact" => Dedup.exact(docs, id, text)
        case "minhash" => Dedup.minhashLsh(docs, id, text)
        case "simhash" => Dedup.simhashPairs(docs, id, text)
        case "paragraph" => Dedup.paraDedup(docs, id, text)
        // span = Lee-et-al duplicated-span REMOVAL: writes the CLEANED
        // corpus (doc_id, text, n_tokens, n_removed), not pair rows
        case "span" => Dedup.spanScrub(docs, id, text,
          window = opt(f, "window", "16").toInt,
          stride = opt(f, "stride", "8").toInt)
        case m => throw new IllegalArgumentException(
          s"--method must be exact|minhash|simhash|paragraph|span, got: $m")
      }
      pairs.write.mode("overwrite").parquet(one(f, "out"))
      println(s"dedup: method=${opt(f, "method", "minhash")} out=${one(f, "out")}")

    // ANN index lifecycle — build once, search many (the serving
    // shape; see Similarity.ivfBuild/pqBuild/ivfpqBuild).
    case "index-build" :: rest =>
      val f = parseFlags(rest)
      val corpus = spark.read.parquet(one(f, "corpus"))
      val id = opt(f, "id", "vec_id"); val vec = opt(f, "vec", "embedding")
      val idx = one(f, "index")
      opt(f, "kind", "ivfpq") match {
        case "ivf" => graft.similarity.Similarity.ivfBuild(corpus, id, vec, idx,
          nCells = opt(f, "cells", "16").toInt)
        case "pq" => graft.similarity.Similarity.pqBuild(corpus, id, vec, idx,
          m = opt(f, "m", "8").toInt, nCodes = opt(f, "codes", "16").toInt,
          rotate = opt(f, "rotate", "false").toBoolean)
        case "ivfpq" => graft.similarity.Similarity.ivfpqBuild(corpus, id, vec, idx,
          nCells = opt(f, "cells", "16").toInt,
          m = opt(f, "m", "8").toInt, nCodes = opt(f, "codes", "16").toInt,
          residual = opt(f, "residual", "false").toBoolean,
          rotate = opt(f, "rotate", "false").toBoolean)
        // full-text retrieval index (postings + doclen + stats);
        // --batch ID switches to the exactly-once incremental add
        case "text" =>
          val docId = opt(f, "id", "doc_id"); val text = opt(f, "text", "text")
          f.get("batch").map(_.last) match {
            case Some(b) => graft.operators.TextIndex.addBatch(corpus, docId, text, idx, b)
            case None => graft.operators.TextIndex.build(corpus, docId, text, idx)
          }
        case k => throw new IllegalArgumentException(
          s"--kind must be ivf|pq|ivfpq|text, got: $k")
      }
      println(s"index-build: kind=${opt(f, "kind", "ivfpq")} index=$idx")

    case "index-search" :: rest =>
      val f = parseFlags(rest)
      val queries = spark.read.parquet(one(f, "queries"))
      val id = opt(f, "id", "vec_id"); val vec = opt(f, "vec", "embedding")
      val idx = one(f, "index"); val k = opt(f, "k", "10").toInt
      // --allowed PARQUET: metadata-filtered search — first column =
      // permitted neighbor ids; candidates prune BEFORE ranking.
      val allowed = f.get("allowed").map(p => spark.read.parquet(p.last))
      val top = opt(f, "kind", "ivfpq") match {
        case "ivf" => graft.similarity.Similarity.ivfSearch(queries, id, vec, idx, k,
          nprobe = opt(f, "nprobe", "4").toInt, allowed = allowed)
        case "pq" => graft.similarity.Similarity.pqSearch(queries, id, vec, idx, k,
          rerank = opt(f, "rerank", "4").toInt, allowed = allowed)
        case "ivfpq" => graft.similarity.Similarity.ivfpqSearch(queries, id, vec, idx, k,
          nprobe = opt(f, "nprobe", "4").toInt, rerank = opt(f, "rerank", "4").toInt,
          allowed = allowed)
        case kd => throw new IllegalArgumentException(
          s"--kind must be ivf|pq|ivfpq, got: $kd")
      }
      top.write.mode("overwrite").parquet(one(f, "out"))
      println(s"index-search: kind=${opt(f, "kind", "ivfpq")} out=${one(f, "out")}")

    // Tombstone-delete ids from a persisted index (the crawl loop's
    // revoke path): --ids PARQUET (first column = ids), --batch makes
    // crash-retried deletes no-ops; the next compact-index removes
    // the rows physically. ANN (ivf/pq/ivfpq) and TEXT layouts are
    // auto-detected, like compact-index.
    case "index-delete" :: rest =>
      val f = parseFlags(rest)
      val path = one(f, "index")
      val ids = spark.read.parquet(one(f, "ids"))
      val batch = f.get("batch").map(_.last)
      val isText = graft.operators.IndexLog.layout(spark, path) == "text"
      val applied =
        if (isText) graft.operators.TextIndex.deleteDocs(spark, path, ids, batch)
        else graft.similarity.Similarity.annDelete(spark, path, ids, batch)
      println(s"index-delete: index=$path kind=${if (isText) "text" else "ann"} " +
        s"applied=$applied")

    // Retrieval over the stored TEXT index (d36/d37 serving paths):
    // --tokens is the query, --mode bm25 ranks, --mode bool
    // coverage-ranks with an AND-ish floor.
    case "text-search" :: rest =>
      val f = parseFlags(rest)
      val idx = one(f, "index"); val k = opt(f, "k", "100").toInt
      val tokens = one(f, "tokens").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      // --allowed PARQUET: metadata-filtered retrieval — first column
      // = permitted doc ids; candidates prune BEFORE the top-K cut.
      val allowedDocs = f.get("allowed").map(p => spark.read.parquet(p.last))
      val res = opt(f, "mode", "bm25") match {
        case "bm25" => graft.operators.TextIndex.bm25(spark, idx, tokens,
          k1 = opt(f, "k1", "1.2").toDouble, b = opt(f, "b", "0.75").toDouble,
          topK = k, allowed = allowedDocs)
        case "bool" =>
          graft.operators.TextIndex.postings(spark, idx, tokens)
            .groupBy(col("doc_id"))
            .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n_matched"))
            .filter(col("n_matched") >= opt(f, "min-match", "1").toInt)
            .orderBy(col("n_matched").desc, col("doc_id"))
            .limit(k)
        case m => throw new IllegalArgumentException(
          s"--mode must be bm25|bool, got: $m")
      }
      res.write.mode("overwrite").parquet(one(f, "out"))
      println(s"text-search: mode=${opt(f, "mode", "bm25")} " +
        s"tokens=${tokens.mkString(",")} out=${one(f, "out")}")

    // Gap-filled trend read over a store rollup (t16/t18/t19 family).
    case "gapfill" :: rest =>
      val f = parseFlags(rest)
      val store = TrendStoreWriter.read(spark, one(f, "store"))
        .select(col(opt(f, "entity", "entity_id")).as("entity_id"),
          col(opt(f, "bucket", "bucket")).as("bucket"),
          col(opt(f, "value", "sum_dec")).cast("double").as("sum_value"))
      val filled = opt(f, "mode", "forward") match {
        case "forward" => graft.operators.TrendStore.gapFill(store, one(f, "granularity"))
        case "interpolate" =>
          graft.operators.TrendStore.gapFillInterpolate(store, one(f, "granularity"))
        case m => throw new IllegalArgumentException(
          s"--mode must be forward|interpolate, got: $m")
      }
      filled.write.mode("overwrite").parquet(one(f, "out"))
      println(s"gapfill: mode=${opt(f, "mode", "forward")} out=${one(f, "out")}")

    // Incremental (cross-batch) dedup: exact via the hash index, or
    // NEAR via the LSH band+signature index. Survivors land at --out
    // BEFORE the index commit (the staged-write crash discipline).
    case "dedup-incremental" :: rest =>
      val f = parseFlags(rest)
      val docs = spark.read.parquet(one(f, "docs"))
      val id = opt(f, "id", "doc_id"); val text = opt(f, "text", "text")
      val n = opt(f, "method", "exact") match {
        case "exact" =>
          Dedup.dedupIncremental(spark, docs, id, text,
            one(f, "index"), one(f, "out")).count()
        case "near" =>
          val staged = Dedup.nearDedupIncrementalStaged(spark, docs, id, text,
            one(f, "index"), threshold = opt(f, "threshold", "0.7").toDouble)
          staged.survivors.write.mode("overwrite").parquet(one(f, "out"))
          staged.commit()
          StoreFs.read(spark, one(f, "out")).count()
        // span = incremental duplicated-span SCRUB: the out table is
        // the CLEANED batch; --batch tags the commit for exactly-once
        // replay (see Dedup.spanScrubIncremental)
        case "span" =>
          val staged = Dedup.spanScrubIncremental(spark, docs, id, text,
            one(f, "index"), one(f, "batch"),
            window = opt(f, "window", "16").toInt,
            stride = opt(f, "stride", "8").toInt)
          staged.survivors.write.mode("overwrite").parquet(one(f, "out"))
          staged.commit()
          StoreFs.read(spark, one(f, "out")).count()
        case m => throw new IllegalArgumentException(
          s"--method must be exact|near|span, got: $m")
      }
      println(s"dedup-incremental: method=${opt(f, "method", "exact")} survivors=$n")

    // Compact an incremental index (small-file tax) — dedup layouts
    // (exact hash or near bands/sigs), ANN layouts (ivf/pq/ivfpq) and
    // the text layout are auto-detected; --method pins one and each
    // family's compactor refuses a layout that is not its own.
    case "compact-index" :: rest =>
      val f = parseFlags(rest)
      val path = one(f, "index")
      val layout = graft.operators.IndexLog.layout(spark, path)
      val method = opt(f, "method", "auto") match {
        case "auto" if graft.operators.IndexLog.AnnLayouts(layout) => "ann"
        case "auto" if layout == "text" => "text"
        case m => m
      }
      val n = method match {
        case "ann" => graft.similarity.Similarity.compactIndex(spark, path,
          nFiles = opt(f, "files", "8").toInt)
        case "text" =>
          graft.operators.TextIndex.compact(spark, path)
          StoreFs.read(spark, s"$path/postings").count()
        case _ => Dedup.compactIndex(spark, path,
          nFiles = opt(f, "files", "8").toInt, method = method)
      }
      println(s"compact-index: rows=$n files=${opt(f, "files", "8")} " +
        s"method=$method")

    case "store-info" :: rest =>
      // `minerva trend-store show` analogue: schema + partition range
      // without reading a data row (schema = footer merge; partitions
      // = O(days) directory listing; --counts opts into the one scan)
      val f = parseFlags(rest)
      val path = one(f, "store")
      val parts = StoreFs.list(spark, path)
        .map(_.getName).filter(_.startsWith("p_date=")).sorted
      val df = StoreFs.read(spark, path, mergeSchema = true)
      println(s"store-info: path=$path")
      println("  schema: " + df.schema.fields
        .map(fd => s"${fd.name}:${fd.dataType.simpleString}").mkString(", "))
      println(s"  partitions: ${parts.size}" +
        (if (parts.nonEmpty)
           s" [${parts.head.stripPrefix("p_date=")} .. ${parts.last.stripPrefix("p_date=")}]"
         else ""))
      if (opt(f, "counts", "false").toBoolean)
        println(s"  rows: ${df.count()}")

    case "audit" :: rest =>
      // Store health report — the operator-facing rollup of the t30
      // (coverage) and t31 (outage interval) questions, run against
      // the persisted store itself: per-entity grid coverage plus the
      // longest contiguous outage windows. One gaps plan feeds both
      // numbers (the cache spans the two actions).
      val f = parseFlags(rest)
      val path = one(f, "store")
      val gran = opt(f, "granularity", "hour")
      val topN = opt(f, "top", "5").toInt
      val store = StoreFs.read(spark, path, mergeSchema = true)
      val nEntities = store.select(col("entity_id")).distinct().count()
      val observed = store.select(col("entity_id"), col("bucket")).distinct().count()
      val outages = graft.operators.TrendStore.outageWindows(
        store, col("entity_id"), col("bucket"), gran).cache()
      try {
        val missing = Option(outages
            .agg(org.apache.spark.sql.functions.sum(col("n_buckets"))).head.get(0))
          .fold(0L)(_.asInstanceOf[Long])
        val total = observed + missing
        val pct = if (total == 0) 100.0 else observed.toDouble / total * 100
        println(s"audit: store=$path granularity=$gran")
        println(s"  entities: $nEntities")
        println(f"  buckets: observed=$observed missing=$missing coverage=$pct%.2f%%")
        val top = outages
          .orderBy(col("n_buckets").desc, col("entity_id"), col("outage_start"))
          .limit(topN).collect()
        println(s"  outage windows: ${outages.count()} (top ${top.length} by length)")
        top.foreach(r =>
          println(s"    entity=${r.get(0)} ${r.get(1)} .. ${r.get(2)} (${r.get(3)} buckets)"))
      } finally outages.unpersist()

    case "dump" :: rest =>
      // EXPORT a store back out as CSV (with header) or JSONL — the
      // round trip the reference's Postgres tables give for free (any
      // SQL client reads them); graft stores are parquet directories,
      // so a downstream consumer WITHOUT Spark needs a dump verb.
      // --from/--to prune p_date partitions (the scan never reads
      // out-of-range days) and --columns prunes the read schema; CSV
      // cannot hold arrays/structs/maps, so complex columns export as
      // JSON text in place. --files 0 keeps the scan's partitioning
      // (one output file per task — the 100 TB shape); the default 1
      // writes a single consumer-friendly file.
      val f = parseFlags(rest)
      val store = one(f, "store")
      val out = one(f, "out")
      val fmt = opt(f, "format", "csv").toLowerCase
      require(Set("csv", "jsonl")(fmt), s"dump: unknown format $fmt (csv|jsonl)")
      val raw = StoreFs.read(spark, store, mergeSchema = true)
      val (from, to) = (f.get("from").map(_.last), f.get("to").map(_.last))
      require((from.isEmpty && to.isEmpty) || raw.columns.contains("p_date"),
        "dump: --from/--to prune p_date partitions, but this store has " +
          "no p_date column — dump it whole or filter downstream")
      val pruned =
        if (raw.columns.contains("p_date"))
          TrendStoreWriter.read(spark, store, from, to)
        else raw
      val selected = f.get("columns").map(_.last) match {
        case Some(cs) => pruned.select(cs.split(",").map(c => col(c.trim)): _*)
        case None     => pruned
      }
      val writable = fmt match {
        case "csv" =>
          import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
          selected.select(selected.schema.fields.map { fd =>
            fd.dataType match {
              case _: ArrayType | _: MapType | _: StructType =>
                to_json(col(fd.name)).as(fd.name)
              case _ => col(fd.name)
            }
          }.toIndexedSeq: _*)
        case _ => selected
      }
      val files = opt(f, "files", "1").toInt
      val shaped = if (files > 0) writable.coalesce(files) else writable
      val writer = shaped.write.mode("overwrite")
      // full microsecond precision: dump accepts ANY parquet store,
      // not just granularity-truncated trend buckets, so a
      // seconds-only format would silently lose sub-second timestamps
      // (ADVICE r13). Whole-second values print a .000000 tail —
      // noisier but lossless, and one consistent column format.
      if (fmt == "csv")
        writer.option("header", "true")
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(out)
      else writer.json(out)
      println(s"dump: store=$store out=$out format=$fmt" +
        from.map(d => s" from=$d").getOrElse("") +
        to.map(d => s" to=$d").getOrElse(""))

    case "index-info" :: rest =>
      // Introspection twin of compact-index: detect the persisted
      // layout (exact / near / ivf / pq / ivfpq) from the directory
      // shape and report size + structural params. Counts are scans
      // of the (narrow) index tables only, never a corpus read.
      val f = parseFlags(rest)
      val path = one(f, "index")
      def ex(d: String) = StoreFs.exists(spark, s"$path/$d")
      val layout = graft.operators.IndexLog.layout(spark, path)
      println(s"index-info: path=$path layout=$layout")
      layout match {
        case "text" =>
          println(s"  stats: ${StoreFs.readText(spark, s"$path/stats.json").trim}")
          println(s"  posting rows: ${StoreFs.read(spark, s"$path/postings").count()}")
        case "ivfpq" | "pq" =>
          val books = StoreFs.read(spark, s"$path/codebooks")
          val mc = books.agg(org.apache.spark.sql.functions.max(col("sub")),
            org.apache.spark.sql.functions.max(col("code"))).head
          println(s"  codebooks: m=${mc.getInt(0) + 1} codes=${mc.getInt(1) + 1}")
          if (layout == "ivfpq")
            println(s"  cells: ${StoreFs.read(spark, s"$path/centroids").count()}")
          println(s"  rows: ${StoreFs.read(spark, s"$path/codes").count()}")
        case "ivf" =>
          println(s"  cells: ${StoreFs.read(spark, s"$path/centroids").count()}")
          println(s"  rows: ${StoreFs.read(spark, s"$path/cells").count()}")
        case "near" =>
          if (ex("params.json"))
            println(s"  params: ${StoreFs.readText(spark, s"$path/params.json").trim}")
          // A crash between Dedup's bands append and sigs append leaves
          // bands/ without sigs/ — introspection must report, not throw.
          if (ex("sigs")) println(s"  rows: ${StoreFs.read(spark, s"$path/sigs").count()}")
          else println("  rows: unknown (sigs missing — partial commit)")
        case _ =>
          println(s"  rows: ${StoreFs.read(spark, path).count()}")
      }
      // --stats: the balance health report — cell balance for the ANN
      // layouts (Similarity.indexStats), posting-list balance for the
      // text layout (TextIndex.health): occupied/empty cells or
      // term/posting counts, max/mean sizes, the imbalance probe-cost
      // factor, live tombstones
      if (opt(f, "stats", "false").toBoolean &&
          Set("ivf", "pq", "ivfpq", "text")(layout)) {
        val st =
          if (layout == "text") graft.operators.TextIndex.health(spark, path).head
          else graft.similarity.Similarity.indexStats(spark, path).head
        println(s"  health: " + st.schema.fieldNames.zipWithIndex
          .map { case (n, i) => s"$n=${st.get(i)}" }.mkString(" "))
      }

    case "decontaminate" :: rest =>
      val f = parseFlags(rest)
      val docs = spark.read.parquet(one(f, "docs"))
      val bench = spark.read.parquet(one(f, "bench"))
      val scan = Dedup.contamination(docs, opt(f, "id", "doc_id"),
        opt(f, "text", "text"), bench,
        k = opt(f, "k", "3").toInt,
        threshold = opt(f, "threshold", "0.5").toDouble)
      scan.write.mode("overwrite").parquet(one(f, "out"))
      println(s"decontaminate: out=${one(f, "out")}")

    case cmd =>
      throw new IllegalArgumentException(
        s"unknown command: ${cmd.headOption.getOrElse("")} " +
          "(expected harvest|harvest-stream|materialize|materialize-all|aggregate|" +
          "trigger|retain|delete-ts|compact|cluster|explain|shard|audit|dedup|" +
          "dedup-incremental|decontaminate|index-build|index-search|index-delete|" +
          "text-search|" +
          "gapfill|compact-index|dump|store-info|index-info)")
  }

  def main(args: Array[String]): Unit = {
    val spark = Engine.session("graft-cli")
    try run(spark, args.toSeq) finally spark.stop()
  }
}
