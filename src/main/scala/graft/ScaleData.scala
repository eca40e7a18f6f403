package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}

/** Synthesizes larger scale factors from sf0.1 by unioning id-shifted
  * copies of every table — the round-14 scale-rehearsal recipe
  * (VERDICT r13 item #1). `sf1` = 10 copies, `sf3` = 30 copies.
  *
  * Copy k (k = 0 … n-1; copy 0 is bit-identical to the source):
  *   - every entity/fact id column is shifted by k·10,000,000 so keys
  *     never collide across copies and every FK relationship
  *     (orders→customer, lineitem→orders/part/supplier, events→user)
  *     stays intact WITHIN its copy;
  *   - dimension tables `region`/`nation` are NOT replicated (they are
  *     genuinely fixed-cardinality dims; nationkey/regionkey refs stay
  *     valid from all copies);
  *   - `documents.text` has every whitespace-separated token prefixed
  *     with a copy salt (`z<k>q`) so shingles/minhashes/fingerprints are
  *     fully distinct ACROSS copies while the per-copy near-dup
  *     structure is preserved — naive replication would instead create
  *     n² cross-copy candidate pairs in every LSH bucket, which is not
  *     what a genuinely larger corpus looks like. Token COUNT per doc is
  *     unchanged; `n_chars` is recomputed (= length(text), the source
  *     invariant, verified);
  *   - `embeddings.embedding` is rotated by k positions (dim 64 > max
  *     copies 30, so all rotations are distinct); norms are preserved,
  *     cross-copy vectors decorrelate, per-copy geometry is identical;
  *   - timestamps are NOT shifted: a larger sf at a fixed time range
  *     means more entities per time bucket, which is exactly the 100 TB
  *     shape the trend rollups must absorb.
  *
  * Usage: graft.ScaleData <srcSfDir> <outDir> <copies> [--hot <frac>]
  * (--hot remaps ~frac of rows onto one hot key per skew-sensitive
  * family — see [[scaleTables]].)
  */
object ScaleData {

  val Stride = 10000000L // > 66x the largest sf0.1 id (149,999)

  private def withCopies(df: DataFrame, n: Int): DataFrame =
    df.crossJoin(F.broadcast(
      df.sparkSession.range(n.toLong).toDF("copy_k")))

  private def shifted(c: String): Column =
    (F.col(c) + F.col("copy_k") * Stride).as(c)

  /** Prefix every token with the copy salt; copy 0 keeps the text
    * verbatim. Matching the TOKENS (`[^ ]+`) rather than the
    * separators leaves whitespace untouched byte-for-byte: a
    * separator-anchored `(^| )` pattern missed the token after a
    * leading space (Java resumes past a zero-width `^` match) and
    * minted standalone salt tokens between doubled spaces — silent on
    * clean data, wrong on any corpus with irregular whitespace. */
  /** The salt only guarantees token-level cross-copy disjointness if
    * the SOURCE has no token already shaped like a salted one: a
    * source token 'z1qx' survives verbatim in copy 0 while copy 1
    * salts 'x' into the same 'z1qx', recreating exactly the
    * cross-copy shingle/minhash collisions the salt exists to prevent
    * (ADVICE r14). Assert the precondition on the source corpus
    * rather than trusting it — one cheap scan in a synthesis tool
    * that already reads the table in full. */
  private[graft] def assertSaltable(docs: DataFrame): Unit = {
    val salted = docs.filter(F.col("text").rlike("(^| )z[0-9]+q")).count()
    require(salted == 0,
      s"ScaleData: $salted source document(s) contain tokens matching the " +
        "salt pattern (^z\\d+q) — salted copies would collide with copy 0; " +
        "pick a different salt prefix for this corpus")
  }

  private[graft] def saltedText(c: String): Column =
    F.when(F.col("copy_k") === 0, F.col(c)).otherwise(
      F.regexp_replace(F.col(c), F.lit("[^ ]+"),
        F.concat(F.lit("z"), F.col("copy_k").cast("string"), F.lit("q$0")))).as(c)

  /** Rotate a 64-dim float array left by copy_k positions (identity for
    * copy 0), NEGATING every element once the rotation cycle wraps
    * (copy_k ≥ dim would otherwise repeat copy_k−dim's vector exactly,
    * planting bogus cross-copy duplicates at n > 64) — 2·dim distinct
    * norm-preserving transforms, enough for the sf10 synthesis (100
    * copies). element_at is 1-based; the lambda variable is int,
    * copy_k bigint — cast the index back to int. */
  private def rotated(c: String): Column = {
    val rot = F.expr(s"transform(sequence(0, size($c) - 1), " +
      s"i -> element_at($c, CAST((i + copy_k) % size($c) AS INT) + 1) * " +
      s"CASE WHEN copy_k >= size($c) THEN -1 ELSE 1 END)")
      .cast("array<float>")
    F.when(F.col("copy_k") === 0, F.col(c)).otherwise(rot).as(c)
  }

  /** Zipfian doc-length heterogeneity (--zipf, VERDICT r15 item #5):
    * the uniform copies keep the source's near-constant ~300-char doc
    * lengths, but real corpora have power-law lengths and a few giant
    * documents — one 6 MB doc is ONE row, and it stresses the
    * single-row paths (shingle arrays, BPE merge loops, span/paragraph
    * explodes, per-eval generate buffers) that no amount of uniform
    * row-count scaling ever touches. With zipf on, each doc's (salted,
    * possibly hot-remapped) text is repeated m times, where m is a
    * deterministic per-(doc, copy) draw from a discrete power law:
    * m = floor(u^(-1/1.5)) capped at 64 (P(m≥2)≈0.35, mean ≈2.6), and
    * the doc carrying the SOURCE's min doc id in every copy becomes a
    * planted giant (m = 20,000 ≈ 6 MB, ~1M tokens). Token counts and
    * shingle structure scale with m; within-doc repetition is exactly
    * what giant real-world docs look like to a dedup pass. n_chars is
    * recomputed downstream as always. Zipf dirs are STRESS data —
    * like --hot, never oracle-parity data (copy 0 is expanded too). */
  private[graft] val GiantMult = 20000

  private[graft] def zipfExpandedText(minSrcDocId: Long): Column = {
    val u = (F.pmod(F.xxhash64(F.col("doc_id"), F.lit("zipf")), F.lit(1000000L)) + 1)
      .cast("double") / F.lit(1000000.0)
    val mult = F.least(F.lit(64L), F.floor(F.pow(u, F.lit(-1.0 / 1.5)))).cast("int")
    val m = F.when(F.col("doc_id") % Stride === minSrcDocId, F.lit(GiantMult))
      .otherwise(mult)
    F.when(m <= 1, F.col("text"))
      .otherwise(F.array_join(F.array_repeat(F.col("text"), m), " "))
      .as("text")
  }

  /** Hot-key synthesis (VERDICT r14 item #2): the uniform id-shifted
    * copies never exercise a SKEWED shuffle — every key family stays
    * ~uniform at every scale, so the sf10 board proved time scaling
    * but said nothing about one fat reduce task. With `hot` ∈ (0, 1),
    * ~that fraction of rows (selected by xxhash64 of the row's unique
    * id, so heat is deterministic and spans ALL copies) is remapped
    * onto ONE key per skew-sensitive family:
    *   - `events.user_id` → the source's min user id (t13's session
    *     window, t40/e-family entity rollups land on one entity);
    *   - `orders.o_custkey` → the source's min custkey — a copy-0 key,
    *     so FK integrity to customer holds (e08's join + window);
    *   - `documents.source` → literal "hot_source" (d32/d38/d39 group
    *     and sample by source);
    *   - `documents.text`'s FIRST token → literal "qhotzz" applied
    *     AFTER salting so the hot token spans copies (token
    *     explode/join keys in d30/d33/d34; token count per doc is
    *     unchanged, so the token-count invariant still holds; docs
    *     starting with whitespace keep their text — heat ≈ hot, not
    *     exactly hot). "qhotzz" cannot collide with a salted token
    *     (salt shape is `z<digits>q…`) and the q prefix keeps it out
    *     of the source corpus by the same assertSaltable reasoning —
    *     it is asserted absent from the source.
    * Everything else (row counts, FKs, salting, rotation) is the
    * uniform recipe unchanged; hot = 0.0 is bit-identical to it. Note
    * heat spans copy 0 too — hot rows there also remap — so the
    * copy-0-verbatim invariant holds only for hot = 0 (hot dirs are
    * skew-rehearsal data, never oracle-parity data). */
  def scaleTables(spark: SparkSession, src: String, out: String, n: Int,
                  hot: Double = 0.0, zipf: Boolean = false): Unit = {
    require(hot >= 0 && hot < 1, s"hot fraction must be in [0, 1), got $hot")
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // Selector: pmod(xxhash64(id), k) == 0 picks ~1/k of all rows.
    val hotK = if (hot > 0) math.max(2L, math.round(1.0 / hot)) else 0L
    def isHot(idCol: String): Column =
      F.pmod(F.xxhash64(F.col(idCol), F.col("copy_k")), F.lit(hotK)) === 0
    def heatTo(idCol: String, keyCol: Column, hotVal: Column, as: String): Column =
      if (hot == 0) keyCol
      else F.when(isHot(idCol), hotVal).otherwise(keyCol).as(as)
    lazy val hotUser = rd("events").agg(F.min("user_id")).head().getLong(0)
    lazy val hotCust = rd("customer").agg(F.min("c_custkey")).head().getLong(0)
    // File counts scale with the copy count (sf1 keeps the base), the
    // way any real writer's output grows with its input. A fixed count
    // caps SCAN parallelism at larger sfs — each file here is one
    // parquet row group, so splits = files, and the sf10 event logs
    // showed document-heavy keys running 8 tasks on 32 cores (the
    // other 24 splits land past the row-group boundary and read
    // nothing): a synthesis artifact understating the engine, not a
    // plan property.
    val fileScale = math.max(1, n / 10)
    def wr(df: DataFrame, t: String, baseParts: Int): Unit =
      df.repartition(baseParts * fileScale)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    // Fixed dims: copied verbatim, never replicated (nor re-split).
    rd("region").repartition(1).write.mode("overwrite").parquet(s"$out/region.parquet")
    rd("nation").repartition(1).write.mode("overwrite").parquet(s"$out/nation.parquet")

    wr(withCopies(rd("supplier"), n)
      .select(shifted("s_suppkey"), F.col("s_name"), F.col("s_nationkey"), F.col("s_acctbal")),
      "supplier", 2)
    wr(withCopies(rd("part"), n)
      .select(shifted("p_partkey"), F.col("p_name"), F.col("p_brand"), F.col("p_type"),
        F.col("p_size"), F.col("p_retailprice")),
      "part", 4)
    wr(withCopies(rd("customer"), n)
      .select(shifted("c_custkey"), F.col("c_name"), F.col("c_nationkey"),
        F.col("c_acctbal"), F.col("c_mktsegment")),
      "customer", 4)
    wr(withCopies(rd("orders"), n)
      .select(shifted("o_orderkey"),
        heatTo("o_orderkey", shifted("o_custkey"), F.lit(hotCust), "o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice"), F.col("o_orderdate"), F.col("o_orderpriority")),
      "orders", 16)
    wr(withCopies(rd("lineitem"), n)
      .select(shifted("l_orderkey"), shifted("l_partkey"), shifted("l_suppkey"),
        F.col("l_linenumber"), F.col("l_quantity"), F.col("l_extendedprice"),
        F.col("l_discount"), F.col("l_tax"), F.col("l_returnflag"),
        F.col("l_linestatus"), F.col("l_shipdate")),
      "lineitem", 32)
    wr(withCopies(rd("events"), n)
      .select(shifted("event_id"), F.col("ts"),
        heatTo("event_id", shifted("user_id"), F.lit(hotUser), "user_id"),
        F.col("event_type"), F.col("value"), F.col("props")),
      "events", 16)
    val docs = rd("documents")
    assertSaltable(docs)
    if (hot > 0) require(
      docs.filter(F.col("text").rlike("(^| )qhotzz( |$)")).isEmpty,
      "ScaleData: source corpus already contains the hot token 'qhotzz'")
    val hotText =
      if (hot == 0) saltedText("text")
      else F.when(isHot("doc_id"),
          F.regexp_replace(saltedText("text"), F.lit("^[^ ]+"), F.lit("qhotzz")))
        .otherwise(saltedText("text")).as("text")
    val docsScaled = withCopies(docs, n)
      .select(shifted("doc_id"), hotText, F.col("lang"),
        heatTo("doc_id", F.col("source"), F.lit("hot_source"), "source"))
    val docsZipfed =
      if (!zipf) docsScaled
      else {
        val minSrcDocId = docs.agg(F.min("doc_id")).head().getLong(0)
        docsScaled.withColumn("text", zipfExpandedText(minSrcDocId))
      }
    wr(docsZipfed
      .withColumn("n_chars", F.length(F.col("text")).cast("long")),
      "documents", 8)
    wr(withCopies(rd("embeddings"), n)
      .select(shifted("vec_id"), rotated("embedding"), F.col("label")),
      "embeddings", 4)
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.ScaleData <srcSfDir> <outDir> <copies> [--hot <frac>] [--zipf]"
    require(args.length >= 3, usage)
    val Array(src, out, copiesS) = args.take(3)
    var hot = 0.0
    var zipf = false
    var i = 3
    while (i < args.length) {
      args(i) match {
        case "--hot" => require(i + 1 < args.length, usage); hot = args(i + 1).toDouble; i += 2
        case "--zipf" => zipf = true; i += 1
        case other => throw new IllegalArgumentException(s"unknown flag '$other'; $usage")
      }
    }
    val spark = Engine.session("graft-scale-data", Engine.cores("32"))
    scaleTables(spark, src, out, copiesS.toInt, hot, zipf)
    spark.stop()
  }
}
