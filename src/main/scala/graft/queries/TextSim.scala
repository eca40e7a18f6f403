package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{BigramsGenerator, RegexTokenStatsExpr, TextStatsExpr, TokenCountExpr, TokenUniqExpr, TokensGenerator}
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Sampling, StoreFs, TextIndex}
import graft.similarity.Similarity
import graft.sources.TableCatalog

/** LLM-pipeline queries: dedup (d01–d04, d08), text analysis
  * (d05–d07), similarity search (s01–s03), multimodal (m01–m02).
  * d03/d04 are configured so their sketch outputs are deterministic
  * and effectively exact (see each query) → full DuckDB oracles.
  * s02/m02 are genuinely approximate/binary → rows-only driver check
  * + ScalaTest oracles against exact ground truth.
  */
object TextSim {

  type Q = (SparkSession, String) => DataFrame

  /** Per-JVM ANN index cache for the serving-path queries (s08–s10):
    * the first call for a (sf dir, kind) builds the index into a
    * fresh temp directory, later calls reuse it. Fresh-per-JVM means
    * no staleness across code or data changes, and Bench's forked
    * min-of-2 child naturally measures build+search on run 1 and the
    * pure SERVING path on run 2 — the min is the serving time. */
  private val indexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Fixed export root for the s18 index-stats oracle: the DuckDB
    * twin's SQL is static text, so it cannot reference the per-JVM
    * temp index path — s18 exports the (tiny) index tables here, one
    * subdirectory per (corpus count, vec_id sum) dataset key, and the
    * oracle picks its dataset's rows by matching BOTH. `_v2` because
    * the r13 layout (count only, no vec_sum column) may linger on
    * disk and a mixed-schema glob would break the oracle's filter.
    * The export runs once per JVM per dataset and index state
    * ([[s18ExportOnce]]), so it stays out of the min-of-2 timed window;
    * the guard key folds the index tree's StoreFs.fingerprint, so an
    * in-JVM mutation of a cached index re-exports instead of leaving
    * the oracle on pre-mutation state (ADVICE r14). */
  private val s18ExportRoot = "/tmp/graft_s18_export_v2"
  private val s18ExportOnce =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def cachedIndex(s: SparkSession, dir: String, kind: String)
                         (build: String => Unit): String =
    indexCache.computeIfAbsent(s"$dir#$kind", { _ =>
      val p = java.nio.file.Files.createTempDirectory(s"graft_${kind}_idx")
        .toString + "/idx"
      build(p)
      p
    })

  /** Language-ID stopword profiles: 10 languages × 15 common
    * stopwords. Both the Spark plan and the DuckDB oracle are
    * GENERATED from this one table, so the two sides cannot drift.
    * Scores are padded-substring occurrence counts — pure codegen'd
    * string ops, no UDF; prediction = first language (declaration
    * order) attaining the maximal positive score. Words overlapping
    * between languages (que, una, con…) are fine — scores compete,
    * and the depth is what disambiguates (LangSpec plants a corpus
    * where 3-word profiles misclassify and these do not). */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "with", "that", "have", "this", "from", "they",
      "will", "would", "there", "their", "what", "about", "which"),
    "es" -> Seq("los", "las", "una", "que", "por", "con", "para", "pero",
      "como", "más", "este", "esta", "son", "tiene", "entre"),
    "fr" -> Seq("les", "des", "une", "que", "pour", "dans", "avec", "mais",
      "plus", "cette", "sont", "leur", "bien", "aussi", "comme"),
    "de" -> Seq("der", "und", "nicht", "das", "mit", "für", "auf", "ist",
      "sich", "auch", "eine", "aber", "nach", "wird", "noch"),
    "it" -> Seq("che", "della", "sono", "per", "con", "una", "anche", "come",
      "più", "questo", "hanno", "alla", "nel", "dalla", "essere"),
    "pt" -> Seq("uma", "para", "como", "que", "não", "com", "mais", "por",
      "isso", "ele", "quando", "muito", "pela", "seus", "entre"),
    "nl" -> Seq("het", "een", "niet", "van", "dat", "voor", "ook", "maar",
      "zijn", "met", "deze", "naar", "worden", "door", "heeft"),
    "sv" -> Seq("och", "att", "som", "det", "med", "för", "inte", "den",
      "har", "till", "eller", "från", "kan", "vara", "efter"),
    "pl" -> Seq("jest", "przez", "czy", "nie", "się", "tego", "jako", "tylko",
      "może", "oraz", "przy", "jego", "bardzo", "które", "ale"),
    "id" -> Seq("yang", "dan", "untuk", "dengan", "tidak", "dari", "pada",
      "adalah", "dalam", "akan", "juga", "sudah", "karena", "oleh", "bisa"))

  /** PII scrub vocabulary: (label, regex, replacement), applied in
    * declaration order (emails before IPs before bare digit runs, so
    * the host part of an address is consumed by the more specific
    * class first). One table generates BOTH the Spark plan and the
    * DuckDB oracle — the langProfiles discipline — and the patterns
    * stay inside the RE2 ∩ java.util.regex common subset so the two
    * engines match identically. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("number", "[0-9]+", "<NUM>"))

  /** The d35 transform over any DataFrame: per-class match counts on
    * the ORIGINAL `textCol` (so classes report independently) plus a
    * `scrubbed` column with the patterns replaced sequentially.
    * Regexes are passed as Columns, never through SQL-literal
    * escaping. Map-only — no shuffle. */
  def piiScrub(df: DataFrame, textCol: String): DataFrame = {
    val counted = piiPatterns.foldLeft(df) { case (d, (label, re, _)) =>
      d.withColumn(s"n_$label",
        size(regexp_extract_all(col(textCol), lit(re), lit(0))))
    }
    val scrubbed = piiPatterns.foldLeft(col(textCol)) { case (c, (_, re, repl)) =>
      regexp_replace(c, lit(re), lit(repl))
    }
    counted.withColumn("scrubbed", scrubbed)
  }

  /** The d05 plan over any DataFrame with (doc_id, text) — shared by
    * the sf query and the planted multilingual spec corpus. Custom
    * `profiles` let specs contrast shallow vs deep profile tables;
    * `keep` carries extra source columns through (so downstream
    * pipeline stages — d13 — need no join back to the corpus). */
  def langScore(docs: DataFrame,
                profiles: Seq[(String, Seq[String])] = langProfiles,
                keep: Seq[String] = Seq.empty,
                keepStats: Boolean = false): DataFrame = {
    // ONE streaming byte walk for all profiles×words marker counts
    // (TextStatsExpr) — the occurrences() length-diff formulation
    // copied the full string per marker, 150 copies/row at this
    // profile table (r17 zipf board: 40.7 s for d05 alone). Counts
    // are exact ints; the per-language sum is cast to double so the
    // score columns keep the length-diff formulation's type (the
    // DuckDB twins still run the generated length-diff SQL —
    // value-identical, spec-asserted bit-identity).
    val allWords = profiles.flatMap(_._2)
    val offsets = profiles.map(_._2.length).scanLeft(0)(_ + _)
    val withStats = docs.withColumn("__ts",
      TextStatsExpr.stats(col("text"), allWords))
    val scored = profiles.zipWithIndex.foldLeft(withStats) {
      case (df, ((lang, words), pi)) =>
        val base = offsets(pi)
        df.withColumn(s"${lang}_score",
          words.indices.map(j =>
              element_at(col("__ts.marker_counts"), lit(base + j + 1)))
            .reduce(_ + _).cast("double"))
    }
    val scores = profiles.map { case (lang, _) => col(s"${lang}_score") }
    // first language (in declaration order) with the max positive
    // score: lang_i wins when score_i > 0 and score_i >= every later
    // score (an earlier max would already have matched).
    val chain = profiles.zipWithIndex.foldRight(lit("und"): org.apache.spark.sql.Column) {
      case (((lang, _), i), orElse) =>
        val s = col(s"${lang}_score")
        val laters = profiles.drop(i + 1).map { case (l2, _) => s >= col(s"${l2}_score") }
        val cond = (laters :+ (s > lit(0))).reduce(_ && _)
        when(cond, lit(lang)).otherwise(orElse)
    }
    val statsCols = if (keepStats) Seq(col("__ts").as("__stats")) else Nil
    scored.select(((col("doc_id") +: keep.map(col)) ++ scores :+
      chain.as("pred_lang")) ++ statsCols: _*)
  }

  /** Generated SQL pieces of the language scorer, shared by the d05
    * oracle and the d13 curation oracle (one profile table feeds the
    * Spark plan and every SQL twin — they cannot drift). */
  private def langScoreExprsSql: String = {
    def occ(w: String) = {
      val m = s" $w "
      s"(length(pt) - length(replace(pt, '$m', ''))) / ${m.length}"
    }
    langProfiles.map { case (lang, words) =>
      words.map(occ).mkString(" + ") + s" AS ${lang}_score"
    }.mkString(",\n  ")
  }

  private def langCaseSql: String = {
    val arms = langProfiles.zipWithIndex.map { case ((lang, _), i) =>
      val laters = langProfiles.drop(i + 1)
        .map { case (l2, _) => s"${lang}_score >= ${l2}_score" }
      val conds = (laters :+ s"${lang}_score > 0").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString("\n       ")
    s"""CASE $arms
       |       ELSE 'und' END""".stripMargin
  }

  /** DuckDB twin of [[langScore]], generated from the same profiles. */
  private def langScoreSql: String = {
    val scoreCols = langProfiles.map { case (lang, _) => s"${lang}_score" }.mkString(", ")
    s"""WITH p AS (SELECT doc_id, ' ' || text || ' ' AS pt FROM documents),
       |sc AS (SELECT doc_id,
       |  $langScoreExprsSql
       |FROM p)
       |SELECT doc_id, $scoreCols,
       |  $langCaseSql AS pred_lang
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Gopher-style repetition signals over any (doc_id, text) corpus —
    * the d18 plan, reusable by specs with planted corpora. Set stats
    * are HOFs computed before the explode and carried through both
    * groupBys as max() (functionally dependent on doc_id): one
    * explode, two combine-friendly shuffles, no corpus re-join. */
  def repetition(docs: DataFrame): DataFrame =
    // one native streaming pass per doc (RepetitionStatsExpr): the
    // five integers, then the ratios — a pure projection. The former
    // token/bigram-array + explode + two-groupBy plan materialized
    // ~300 MB of transient arrays per zipf-giant ROW (the d18 stress
    // OOM) and shuffled the whole exploded corpus for top_token_cnt.
    docs.select(col("doc_id"),
        graft.functions.RepetitionStatsExpr.stats(col("text")).as("__r"))
      .filter(col("__r.n_tokens") > 0)
      .select(col("doc_id"),
        col("__r.n_tokens").as("n_tokens"), col("__r.n_uniq").as("n_uniq"),
        col("__r.n_grams").as("n_grams"),
        col("__r.n_uniq_grams").as("n_uniq_grams"),
        col("__r.top_token_cnt").as("top_token_cnt"),
        round(col("__r.n_uniq") / col("__r.n_tokens"), 6).as("uniq_token_ratio"),
        when(col("__r.n_grams") === 0, lit(0.0))
          .otherwise(round(lit(1.0) - col("__r.n_uniq_grams") / col("__r.n_grams"), 6))
          .as("dup_bigram_ratio"),
        round(col("__r.top_token_cnt") / col("__r.n_tokens"), 6).as("top_token_ratio"))

  /** Corpus-rarity scoring over any (doc_id, text) corpus — the d20
    * plan (integer-exact unigram-LM signal; see the query notes).
    *
    * Skew posture (SkewSpec demonstrates all three branches):
    *  - `hotTokens = 0` (default): one token-keyed shuffle join of the
    *    exploded corpus against the inline frequency table. The Zipf
    *    head all lands in one join partition, and AQE CANNOT split it
    *    here: `OptimizeSkewedJoin` only matches sorts sitting DIRECTLY
    *    on shuffle stages, and the inline freq side keeps its final
    *    aggregate between the shuffle and the sort. Fine at bench
    *    scale; not the 100 TB plan.
    *  - `hotTokens = N`: Zipf-head separation — the top-N tokens by
    *    corpus frequency (the head is small BY DEFINITION of the skew
    *    being a head) broadcast, so the hot ~half of all token rows
    *    never shuffles at all; the tail joins with its heavy keys
    *    removed. Exactly equal to the default (spec-asserted).
    *  - a PRECOMPUTED frequency table ([[rarityScore]]): both join
    *    inputs are then plain shuffles and AQE's skew-join split
    *    engages (spec-asserted `skew=true`). */
  def rarity(docs: DataFrame, hotTokens: Int = 0): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        TokensGenerator.explodeTokens(col("text"), skipEmpty = false).as("__tok"))
    val freq = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__cf"))
    val joined =
      if (hotTokens <= 0) toks.join(freq, "__tok")
      else {
        // head by frequency: tiny (N rows) and covers the skew mass
        val hot = freq.orderBy(col("__cf").desc, col("__tok")).limit(hotTokens)
        val hotJoined = toks.join(broadcast(hot), "__tok")
        val coldJoined = toks
          .join(broadcast(hot.select(col("__tok"))), Seq("__tok"), "left_anti")
          .join(freq, "__tok")
        hotJoined.unionAll(coldJoined)
      }
    joined
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__cf") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("__cf") <= 5, 1L).otherwise(0L)).as("n_rare"),
        sum(col("__cf")).as("sum_cf"))
      .select(col("doc_id"), col("n_tokens"), col("n_hapax"), col("n_rare"),
        round(col("n_rare") / col("n_tokens"), 6).as("rare_ratio"),
        round(col("sum_cf") / col("n_tokens"), 6).as("avg_corpus_freq"))
  }

  /** [[rarity]] against a PRECOMPUTED frequency table `freq(token,
    * cf)` — the deployment shape where the unigram LM is trained once
    * and scored many times (and the reason it matters: with the freq
    * side a plain stored table, BOTH join inputs are direct shuffle
    * reads, which is the exact plan shape AQE's skew-join splitting
    * handles — the Zipf-head partition splits at runtime instead of
    * serializing into one task). Tokens absent from `freq` (new corpus
    * vs old LM) score as unseen: they count toward `n_tokens` only. */
  def rarityScore(docs: DataFrame, freq: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        TokensGenerator.explodeTokens(col("text"), skipEmpty = false).as("__tok"))
    toks.join(freq.select(col("token").as("__tok"), col("cf").as("__cf")),
        Seq("__tok"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__cf") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("__cf") <= 5, 1L).otherwise(0L)).as("n_rare"),
        sum(coalesce(col("__cf"), lit(0L))).as("sum_cf"))
      .select(col("doc_id"), col("n_tokens"), col("n_hapax"), col("n_rare"),
        round(col("n_rare") / col("n_tokens"), 6).as("rare_ratio"),
        round(col("sum_cf") / col("n_tokens"), 6).as("avg_corpus_freq"))
  }

  val defs: Seq[(String, Q)] = Seq(
    "d01_dedup_exact" -> { (s, dir) =>
      Dedup.exact(TableCatalog(s, dir).documents, "doc_id", "text")
        .orderBy(col("content_hash"))
    },

    // Effective token yield per source — the curation-planning number
    // ("how many tokens does each source actually contribute AFTER
    // exact dedup"): raw vs keeper-only token totals and the yield
    // ratio. Keeper = d01's min-doc-id per content hash, decided by
    // ONE window over the (hash)-keyed frame; token counts are d07's
    // whitespace definition; all integers until one IEEE division.
    "d46_token_yield" -> { (s, dir) =>
      val docs = TableCatalog(s, dir).documents
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text")))
      val flagged = docs.select(col("source"),
          TokenCountExpr.tokenCount(col("text")).cast("long").as("n_tokens"),
          (col("doc_id") === min(col("doc_id")).over(w)).as("keeper"))
      flagged.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keeper"), 1L).otherwise(0L)).as("n_unique_docs"),
          sum(col("n_tokens")).as("tokens_raw"),
          sum(when(col("keeper"), col("n_tokens")).otherwise(0L)).as("tokens_unique"))
        .withColumn("yield",
          round(col("tokens_unique").cast("double") / col("tokens_raw").cast("double"), 6))
        .orderBy(col("source"))
    },

    // Label audit — the labeled `lang` column graded against the d05
    // classifier: the (labeled, predicted) confusion matrix with the
    // per-label share. The curation question behind it: is the
    // upstream language tag trustworthy, and WHERE does it disagree
    // (short docs misclassify — the d05 spec's point — so the
    // off-diagonal is non-degenerate on any real corpus). One
    // codegen'd scoring pass (no UDFs), one O(langs²) groupBy; the
    // label totals ride a window over the CELL table (e10's
    // discipline), never a corpus re-scan; share = IEEE division of
    // exact longs.
    "d47_label_audit" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("labeled_lang"))
      langScore(TableCatalog(s, dir).documents, keep = Seq("lang"))
        .groupBy(col("lang").as("labeled_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("label_total", sum(col("n_docs")).over(w))
        .withColumn("share", col("n_docs") / col("label_total"))
        .orderBy(col("labeled_lang"), col("pred_lang"))
    },

    // Corpus diversity — per-source unigram Shannon entropy (nats)
    // with token/vocab counts: the "is this feed repetitive noise or
    // diverse text" curation signal next to d43's dup rate (a feed
    // can be dup-free yet use 50 words). Determinism is d40's recipe:
    // per-count ln rounds to 6 decimals and multiplies IN DECIMAL by
    // the exact count, the corpus term sums as DECIMAL, and the final
    // H = ln(N) − Σc·ln(c)/N takes ONE double cast + ONE unrounded
    // IEEE division — bit-identical on any engine or partitioning.
    // Plan: explode → (source, token) partial agg → per-source agg;
    // the token-keyed shuffle is the d30/d33 Zipf posture.
    "d48_token_entropy" -> { (s, dir) =>
      // lazy token generator: the explode-of-split materialized the
      // giant row's ~100 MB token array per eval (zipf r17 sweep)
      val toks = TableCatalog(s, dir).documents
        .select(col("source"),
          TokensGenerator.explodeTokens(col("text"), skipEmpty = true).as("token"))
      toks.groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(round(log(col("c")), 6).cast("decimal(18,6)") * col("c")).as("__s"))
        .select(col("source"), col("n_tokens"), col("n_distinct"),
          (round(log(col("n_tokens")), 6)
            - col("__s").cast("double") / col("n_tokens")).as("entropy"))
        .orderBy(col("source"))
    },

    // Zipf-fit corpus-health audit — per source, the log-log
    // least-squares slope of the token frequency-vs-rank curve.
    // Natural language sits near slope ≈ −1 (Zipf's law); template
    // spam, boilerplate feeds, and synthetic filler bend the curve
    // (flat head = everything equally common; cliff = a few tokens
    // repeated). The number a curation pass reads NEXT TO d48's
    // entropy: entropy says how concentrated the unigram mass is,
    // the Zipf slope says whether the SHAPE of the distribution
    // looks like language. Determinism: ranks are integer
    // row_numbers on (count desc, token) — exact; x/y = ln(rank)/
    // ln(count) round to 6dp IN DECIMAL (d48's recipe), all four
    // regression sums are exact DECIMAL, and slope/intercept are
    // t29's fixed-op-order double closed forms, rounded at 6dp.
    // Plan: explode → (source, token) partial agg (the d30/d33 Zipf
    // posture) → ONE per-source rank window over the O(vocab) count
    // table → per-source fold; nothing re-reads the corpus.
    "d52_zipf_fit" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("c").desc, col("token"))
      val d6 = (c: org.apache.spark.sql.Column) =>
        round(log(c), 6).cast("decimal(18,6)")
      val g = TableCatalog(s, dir).documents
        .select(col("source"),
          TokensGenerator.explodeTokens(col("text"), skipEmpty = true).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
        .withColumn("rank", row_number().over(w))
        .withColumn("x6", d6(col("rank"))).withColumn("y6", d6(col("c")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_distinct"), sum(col("c")).as("n_tokens"),
          sum(col("x6")).cast("double").as("sx"),
          sum(col("y6")).cast("double").as("sy"),
          sum(col("x6") * col("y6")).cast("double").as("sxy"),
          sum(col("x6") * col("x6")).cast("double").as("sxx"))
        .filter(col("n_distinct") >= 3)
      g.withColumn("__slope",
          (col("n_distinct") * col("sxy") - col("sx") * col("sy")) /
            (col("n_distinct") * col("sxx") - col("sx") * col("sx")))
        .select(col("source"), col("n_tokens"), col("n_distinct"),
          round(col("__slope"), 6).as("zipf_slope"),
          round((col("sy") - col("__slope") * col("sx")) / col("n_distinct"), 6)
            .as("intercept"))
        .orderBy(col("source"))
    },

    "d02_shingle_jaccard" -> { (s, dir) =>
      Dedup.shingleJaccard(TableCatalog(s, dir).documents, "doc_id", "text",
          k = 3, threshold = 0.5)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Dedup threshold tuning sweep — s17's posture for NEAR-DUP
    // config: the threshold → (pair count, affected docs) curve an
    // operator reads before committing a dedup run (too low scrubs
    // the corpus, too high ships mirrors). ONE shingle-similarity
    // pass (the expensive part) feeds every sweep point: pairs fan
    // out ×7 against a LITERAL threshold array (explode, not a join),
    // then two stacked partial aggs per point. The jac values are
    // unrounded IEEE divisions of exact counts (d02's parity), so the
    // cutoff at each threshold is bit-identical cross-engine.
    "d49_dedup_sweep" -> { (s, dir) =>
      val sims = Dedup.shingleJaccard(TableCatalog(s, dir).documents,
        "doc_id", "text", k = 3, threshold = 0.3)
      val grid = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
      val sweep = sims.select(col("a_id"), col("b_id"), col("jac"),
          explode(array(grid.map(lit): _*)).as("threshold"))
        .filter(col("jac") >= col("threshold"))
      val np = sweep.groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
      val nd = sweep.select(col("threshold"),
          explode(array(col("a_id"), col("b_id"))).as("d"))
        .distinct()
        .groupBy(col("threshold")).agg(count(lit(1)).as("n_docs"))
      np.join(nd, Seq("threshold")).orderBy(col("threshold"))
    },

    "d03_minhash_lsh" -> { (s, dir) =>
      // 32 bands × 2 rows: recall ≥ 1 − 5·10⁻¹⁰ at J ≥ 0.7, so the
      // LSH output equals the exact-Jaccard pair set (DuckDB oracle).
      Dedup.minhashLsh(TableCatalog(s, dir).documents, "doc_id", "text",
          k = 3, numPerm = 64, bands = 32, threshold = 0.7)
        .orderBy(col("a_id"), col("b_id"))
    },

    "d04_simhash" -> { (s, dir) =>
      Dedup.simhashPairs(TableCatalog(s, dir).documents, "doc_id", "text",
          maxHamming = 3)
        .orderBy(col("a_id"), col("b_id"))
    },

    "d05_lang_score" -> { (s, dir) =>
      langScore(TableCatalog(s, dir).documents).orderBy(col("doc_id"))
    },

    "d06_quality" -> { (s, dir) =>
      // stopword hits reuse the en profile; punct = non-alnum,
      // non-space chars. All ratios are double divisions of int
      // counts — bit-stable across engines. Every count comes out of
      // ONE TextStatsExpr byte walk (the length()/regexp_replace/
      // replace formulation ran 7 full-string passes — 2 of them
      // regex allocating a full-size intermediate — measured 103.6 s
      // on the r17 zipf cell; the values are bit-identical,
      // spec-asserted, and the DuckDB twin keeps the old SQL).
      TableCatalog(s, dir).documents
        .withColumn("__ts",
          TextStatsExpr.stats(col("text"), Seq("the", "and", "with")))
        .select(col("doc_id"),
          col("__ts.n_chars").as("n_chars_m"),
          (col("__ts.n_space") + lit(1)).as("n_tokens"),
          col("__ts.n_alpha").as("n_alpha"),
          (col("__ts.n_chars") - col("__ts.n_alpha") - col("__ts.n_digit")
            - col("__ts.n_space")).as("n_punct"),
          col("__ts.n_space").as("n_spaces"),
          (element_at(col("__ts.marker_counts"), 1)
            + element_at(col("__ts.marker_counts"), 2)
            + element_at(col("__ts.marker_counts"), 3)).cast("double")
            .as("n_stopwords"))
        .withColumn("alpha_ratio", col("n_alpha") / col("n_chars_m"))
        .withColumn("punct_ratio", col("n_punct") / col("n_chars_m"))
        .withColumn("stopword_ratio", col("n_stopwords") / col("n_tokens"))
        .withColumn("avg_token_len", (col("n_chars_m") - col("n_spaces")) / col("n_tokens"))
        .orderBy(col("doc_id"))
    },

    "d07_token_count" -> { (s, dir) =>
      // one streaming pass: count + distinct set, never the token array
      TableCatalog(s, dir).documents
        .select(col("doc_id"), TokenUniqExpr.stats(col("text")).as("__t"))
        .select(col("doc_id"),
          col("__t.n_tokens").as("n_tokens"),
          col("__t.n_uniq").as("n_uniq_tokens"))
        .orderBy(col("doc_id"))
    },

    // Gopher-style RULE filter — the rule-based quality gate of a
    // curation pipeline (d06 scores; this DECIDES): four canonical
    // rules (token-count window, mean-word-length window, symbol
    // ratio, stopword floor), reported per source as keep rate +
    // per-rule violation counts — the table a curation review reads
    // to see WHICH rule is doing the cutting on which feed. All
    // per-doc stats are d06's integer counts; the two ratio rules
    // compare IEEE divisions of exact ints, so every keep/drop
    // decision is bit-identical cross-engine. One codegen'd map pass
    // + one O(sources) partial agg.
    "d50_gopher_rules" -> { (s, dir) =>
      // one TextStatsExpr byte walk per doc (d06's rewrite — the
      // per-doc stats ARE d06's counts)
      val scored = TableCatalog(s, dir).documents
        .withColumn("__ts",
          TextStatsExpr.stats(col("text"), Seq("the", "and", "with")))
        .select(col("source"),
          (col("__ts.n_space") + lit(1)).as("nt"),
          col("__ts.n_chars").as("nc"),
          col("__ts.n_space").as("nsp"),
          (col("__ts.n_chars") - col("__ts.n_alpha") - col("__ts.n_digit")
            - col("__ts.n_space")).as("npu"),
          (element_at(col("__ts.marker_counts"), 1)
            + element_at(col("__ts.marker_counts"), 2)
            + element_at(col("__ts.marker_counts"), 3)).cast("double")
            .as("nsw"))
        .withColumn("v_len", (col("nt") < 25 || col("nt") > 100000).cast("long"))
        .withColumn("v_wordlen",
          ((col("nc") - col("nsp")) / col("nt") < 3.0 ||
            (col("nc") - col("nsp")) / col("nt") > 10.0).cast("long"))
        .withColumn("v_symbol", (col("npu") / col("nc") >= 0.1).cast("long"))
        .withColumn("v_stop", (col("nsw") < 2).cast("long"))
      scored.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("v_len") + col("v_wordlen") + col("v_symbol")
            + col("v_stop") === 0, 1L).otherwise(0L)).as("n_kept"),
          sum(col("v_len")).as("v_len"),
          sum(col("v_wordlen")).as("v_wordlen"),
          sum(col("v_symbol")).as("v_symbol"),
          sum(col("v_stop")).as("v_stop"))
        .withColumn("keep_rate", col("n_kept") / col("n_docs"))
        .orderBy(col("source"))
    },

    "d08_fingerprint" -> { (s, dir) =>
      Dedup.fingerprint(TableCatalog(s, dir).documents, "doc_id", "text", k = 3)
        .orderBy(col("fingerprint"))
    },

    // Winnowing fingerprints (MOSS rolling hash): char 8-gram hashes,
    // window-4 minima. Reported per doc as count + min/max fingerprint
    // (scalar projections of the set, so the hash-compare applies).
    // One native O(bytes) pass (WinnowExpr) — bit-identical to the
    // gramHashes+winnowMins HOF chain, which re-scans the string per
    // gram (O(offset) substring) and ran minutes/doc-MB interpreted.
    "d11_winnow" -> { (s, dir) =>
      TableCatalog(s, dir).documents
        .withColumn("__wins",
          graft.functions.WinnowExpr.winnow(col("text"), 8, 4))
        .select(col("doc_id"),
          size(array_distinct(col("__wins"))).as("n_fps"),
          array_min(col("__wins")).as("min_fp"),
          array_max(col("__wins")).as("max_fp"))
        .orderBy(col("doc_id"))
    },

    // BPE-ish token counting: letter runs / digit runs / punctuation
    // runs — the pre-tokenizer split every byte-pair vocabulary
    // starts from, as one codegen'd regexp per row (same RE2-safe
    // pattern on both engines).
    "d10_bpe_tokens" -> { (s, dir) =>
      // streaming Matcher.find() pass (same java.util.regex engine as
      // regexp_extract_all, identical matches) — the match ARRAY for a
      // zipf giant was ~200 MB in one row eval; the distinct set is
      // the honest payload
      TableCatalog(s, dir).documents
        .select(col("doc_id"), RegexTokenStatsExpr.stats(col("text"),
          "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+").as("__t"))
        .select(col("doc_id"),
          col("__t.n").as("n_bpe_tokens"),
          col("__t.n_uniq").as("n_uniq_bpe"))
        .orderBy(col("doc_id"))
    },

    // Embedding-cosine near-dup pairs, exact mode (the oracle-checked
    // baseline; the LSH-bucketed scale path is d12 + spec). sim is
    // rounded to 6 decimals AND the threshold applies to the ROUNDED
    // value on both sides: DuckDB's list_cosine_similarity normalizes
    // as sqrt(na²·nb²) vs graft's sqrt(na²)·sqrt(nb²) — identical to
    // ~1e-15 but not bit-identical, so an unrounded threshold could
    // disagree exactly at the boundary. The engine-side pre-filter
    // sits 1e-6 below the graded threshold (rounding moves a value by
    // ≤ 5e-7, so nothing that rounds to ≥ 0.45 is lost) and exists
    // only to keep the quadratic pair stream pruned early.
    "d09_embed_dup" -> { (s, dir) =>
      Similarity.cosinePairs(TableCatalog(s, dir).embeddings, "vec_id", "embedding",
          threshold = 0.449999)
        .withColumn("sim", round(col("sim"), 6))
        .filter(col("sim") >= 0.45)
        .orderBy(col("a_id"), col("b_id"))
    },

    // The d09 scale path under the driver's eye (rows-only, like
    // s02/s04): OR-amplified sign-sketch candidates, exact cosine on
    // candidates only. Recall vs the exact baseline is spec-asserted
    // on planted near-duplicates (SimilaritySpec).
    "d12_embed_dup_lsh" -> { (s, dir) =>
      Similarity.cosinePairs(TableCatalog(s, dir).embeddings, "vec_id", "embedding",
          threshold = 0.449999, lsh = true)
        .withColumn("sim", round(col("sim"), 6))
        .filter(col("sim") >= 0.45)
        .orderBy(col("a_id"), col("b_id"))
    },

    // End-to-end curation pipeline — the composition a training-data
    // run actually executes: language-ID → quality filter → exact
    // dedup (keep lowest doc_id) → per-language corpus stats. One
    // linear plan: the scorer keeps `text` flowing (no join back to
    // the corpus), dedup is one window on the content hash, stats one
    // groupBy. Every stage is deterministic → full DuckDB oracle.
    "d13_curation" -> { (s, dir) =>
      // keepStats: n_tokens (= n_space+1, the raw whitespace count)
      // and alpha_ratio ride the scorer's single byte walk instead of
      // a second TokenCountExpr pass + a regexp_replace pass
      val scored = langScore(TableCatalog(s, dir).documents,
          keep = Seq("text", "source"), keepStats = true)
        .select(col("doc_id"), col("text"), col("source"), col("pred_lang"),
          (col("__stats.n_space") + lit(1)).as("n_tokens"),
          (col("__stats.n_alpha") / col("__stats.n_chars")).as("alpha_ratio"))
        .withColumn("__h", md5(col("text")))
      // Dedup BEFORE the quality filter — equivalent (duplicates share
      // text, hence identical pred_lang/quality), and load-bearing for
      // the plan: the Window blocks predicate pushdown, so the filter
      // can't be substituted below the scoring projection. Pushed-down,
      // the CASE chain would inline every language score O(langs)
      // times into the filter — each inlined branch re-running the
      // TextStatsExpr byte walk (with the pre-r18 length-diff scorer
      // this was measured 25× slower; the hazard class is the same).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__h")).orderBy(col("doc_id").asc)
      val deduped = scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
      val kept = deduped.filter(col("pred_lang") =!= "und" &&
        col("n_tokens") >= 20 && col("alpha_ratio") >= 0.81)
      kept.groupBy(col("pred_lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          min(col("doc_id")).as("min_doc_id"))
        .orderBy(col("pred_lang"), col("source"))
    },

    // Context-window chunking: fixed 32-token windows on a 24-token
    // stride (8-token overlap) — the chunk/pack step before tokenized
    // training data. All per-doc work is codegen'd HOFs over the token
    // array (sequence → transform → aggregate): scan-bound, no UDF,
    // no explode-shuffle; the projection keeps per-doc chunk stats so
    // the DuckDB twin can hash-verify the exact chunk geometry.
    "d15_chunks" -> { (s, dir) =>
      val window = 32; val stride = 24
      TableCatalog(s, dir).documents
        .withColumn("__n", TokenCountExpr.tokenCount(col("text")))
        .filter(col("__n") > 0)
        .withColumn("__starts", sequence(lit(1), col("__n"), lit(stride)))
        .withColumn("__lens", transform(col("__starts"),
          st => least(lit(window), col("__n") - st + 1)))
        .select(col("doc_id"), col("__n").as("n_tokens"),
          size(col("__starts")).as("n_chunks"),
          aggregate(col("__lens"), lit(0), (acc, x) => acc + x).as("sum_chunk_tokens"),
          element_at(col("__lens"), -1).as("last_chunk_tokens"))
        .orderBy(col("doc_id"))
    },

    // Sequence packing: documents are packed into 4096-token bins in
    // deterministic doc_id order — bin id = floor(exclusive-running-
    // total / capacity), the streaming-greedy packing a pretraining
    // data loader uses. The running sum is windowed per (source,
    // shard) with shard = doc_id div 2000: packing restarts at shard
    // boundaries, which is exactly what a parallel packer does, and
    // it bounds every window partition to a constant row count — a
    // per-source-only window would serialize a 100 TB source onto
    // one task. One window + one groupBy, both deterministic.
    "d16_pack" -> { (s, dir) =>
      val capacity = 4096
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col("shard")).orderBy(col("doc_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      TableCatalog(s, dir).documents
        .select(col("doc_id"), col("source"),
          floor(col("doc_id") / 2000).as("shard"),
          TokenCountExpr.tokenCount(col("text")).as("n_tokens"))
        .withColumn("__before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("bin", floor(col("__before") / capacity))
        .groupBy(col("source"), col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("shard"), col("bin"))
    },

    // Scrubbing counts: URLs / emails per document (the PII/noise
    // pre-filter). RE2-safe patterns shared verbatim by both engines.
    "d17_scrub" -> { (s, dir) =>
      val urls = regexp_extract_all(col("text"), lit("https?://[^ ]+"), lit(0))
      val emails = regexp_extract_all(col("text"),
        lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"), lit(0))
      TableCatalog(s, dir).documents
        .select(col("doc_id"),
          size(urls).as("n_urls"), size(emails).as("n_emails"),
          (size(urls) === 0 && size(emails) === 0).as("clean"))
        .orderBy(col("doc_id"))
    },

    // Deterministic train/valid/test split: the assignment is a pure
    // function of doc_id (first 16 bits of md5), so it is reproducible
    // across engines, re-runs, and cluster layouts — the property a
    // training pipeline needs from its splits. 90/5/5 on the 16-bit
    // space.
    "d14_split" -> { (s, dir) =>
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
      val split = when(h < 58982, "train").when(h < 62259, "valid").otherwise("test")
      TableCatalog(s, dir).documents
        .select(col("doc_id"), split.as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"))
        .orderBy(col("split"))
    },

    // Split-leakage audit — the eval-integrity question every lab
    // audits before trusting a benchmark number: do any NEAR-DUP
    // pairs cross d14's train/valid/test boundaries (a test doc with
    // a training-set near-copy inflates eval scores silently)? A
    // hash-random split sends most dup pairs across boundaries, so
    // the report is non-degenerate wherever near-dups exist at all.
    // Output: per unordered split pair, the pair count, a
    // within/cross kind, and the share of all near-dup pairs.
    "d51_split_leakage" -> { (s, dir) =>
      val docs = TableCatalog(s, dir).documents
      val pairs = Dedup.shingleJaccard(docs, "doc_id", "text", k = 3, threshold = 0.5)
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
      val splits = docs.select(col("doc_id"),
        when(h < 58982, "train").when(h < 62259, "valid").otherwise("test").as("split"))
      val cells = pairs
        .join(splits.select(col("doc_id").as("a_id"), col("split").as("split_a")), "a_id")
        .join(splits.select(col("doc_id").as("b_id"), col("split").as("split_b")), "b_id")
        .select(least(col("split_a"), col("split_b")).as("split_lo"),
          greatest(col("split_a"), col("split_b")).as("split_hi"))
        .groupBy(col("split_lo"), col("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
      cells
        .withColumn("kind", when(col("split_lo") === col("split_hi"),
          lit("within_split")).otherwise(lit("cross_split")))
        .withColumn("share", col("n_pairs") / sum(col("n_pairs"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .orderBy(col("split_lo"), col("split_hi"))
    },

    // Deterministic stratified subsampling — the data-mix step
    // ("keep 25% of these sources, 50% of those, all the rest") as a
    // pure hash function of the doc id: reproducible on any engine or
    // layout, NESTED across rates, integer thresholds (see
    // operators.Sampling). Graded as per-source kept counts.
    "d24_stratified_sample" -> { (s, dir) =>
      val rates = ((0 to 4).map(i => s"src$i" -> 0.25) ++
        (5 to 9).map(i => s"src$i" -> 0.5)).toMap
      Sampling.stratified(TableCatalog(s, dir).documents, "doc_id", "source", rates)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"))
        .orderBy(col("source"))
    },

    // Cross-document duplicated SPANS — the exact-substring-dedup
    // signal (Lee et al., "Deduplicating Training Data Makes Language
    // Models Better") re-expressed over fixed token windows: 16-token
    // spans at stride 8 are hashed INSIDE the HOF before the explode
    // (span text never shuffles — only 32-char hashes do), a span is
    // duplicated iff it occurs in ≥2 DISTINCT docs (min(doc)≠max(doc)
    // per hash — no countDistinct expand), and each doc reports its
    // duplicated-span fraction, the per-doc removal signal. Two
    // combine-friendly shuffles + one hash-keyed join; at 100 TB the
    // hash join is the only wide exchange and its key is fixed-width.
    "d25_span_dedup" -> { (s, dir) =>
      val docs = TableCatalog(s, dir).documents
      // localCheckpoint: the span set feeds BOTH the dup-flag agg and
      // the join's probe side — one tokenize+hash pass instead of two
      // (the d03 discipline; spans are (id, 32-char hash), far
      // narrower than the text they derive from).
      // tokens hoisted below the generate (the Dedup.spanify fix):
      // split inside the lambda re-tokenizes once per SPAN — quadratic
      // per doc, a >15-min single row on a zipf giant
      val spans = docs
        .select(col("doc_id"), split(col("text"), " ").as("__toks"))
        .select(col("doc_id"),
          explode_outer(when(size(col("__toks")) >= 16,
            expr("transform(sequence(1, size(__toks) - 15, 8), " +
              "i -> md5(array_join(slice(__toks, i, 16), ' ')))"))
            .otherwise(array().cast("array<string>"))).as("h"))
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val flags = spans.filter(col("h").isNotNull)
        .groupBy(col("h"))
        .agg((min(col("doc_id")) =!= max(col("doc_id"))).as("dup"))
      spans.join(flags, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(when(col("h").isNotNull, 1L).otherwise(0L)).as("n_spans"),
          sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_spans"))
        .withColumn("dup_frac",
          when(col("n_spans") === 0, lit(null).cast("double"))
            .otherwise(col("n_dup_spans").cast("double") / col("n_spans").cast("double")))
        .orderBy(col("doc_id"))
    },

    // Duplicated-span REMOVAL — the transform on top of d25's signal
    // (Lee et al.): every cross-doc-duplicated 16-token window keeps
    // its globally-first instance and is scrubbed everywhere else,
    // token-level coverage semantics (see Dedup.spanScrub). Graded on
    // counts + an md5 of the cleaned text per doc — the oracle
    // reconstructs the identical removal in SQL (keeper = min doc,
    // then min pos; removed token = covered by any non-keeper dup
    // window of its doc).
    "d31_span_scrub" -> { (s, dir) =>
      Dedup.spanScrub(TableCatalog(s, dir).documents, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("text")).as("clean_hash"))
        .orderBy(col("doc_id"))
    },

    // Exact incremental-dedup SERVING path — the probe a crawl loop
    // runs daily: one warm batch anti-joined against a prebuilt hash
    // index of the accepted corpus (even doc_ids; cached per JVM, the
    // s09/s10 discipline, so Bench's min-of-2 measures the pure
    // probe). The batch re-submits every even doc under a shifted id
    // plus all odd docs, so the drop AND survivor paths both execute
    // at corpus scale. No commit — the index stays frozen, keeping
    // the key deterministic across warm re-runs.
    "d26_dedup_serve" -> { (s, dir) =>
      val docs = TableCatalog(s, dir).documents
      val idx = cachedIndex(s, dir, "dedup_exact") { p =>
        val b0 = Dedup.dedupIncrementalStaged(s,
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
        b0.commit()
      }
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .unionByName(docs.filter(col("doc_id") % 2 === 0)
          .withColumn("doc_id", col("doc_id") + lit(10000000L)))
      Dedup.dedupIncrementalStaged(s, batch, "doc_id", "text", idx)
        .survivors.select(col("doc_id")).orderBy(col("doc_id"))
    },

    // NEAR-dup incremental-dedup serving path (rows-only — MinHash
    // signature-space verification has no SQL twin; within/cross-
    // batch drop semantics are spec-asserted, and DedupSpec pins this
    // key's exact survivor set on sf0.001): same frozen-index probe
    // shape as d26 — band-postings join + signature verify of one
    // warm batch against the accepted corpus' LSH index.
    "d27_near_dedup_serve" -> { (s, dir) =>
      val docs = TableCatalog(s, dir).documents
      val idx = cachedIndex(s, dir, "dedup_near") { p =>
        val b0 = Dedup.nearDedupIncrementalStaged(s,
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
        b0.commit()
      }
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .unionByName(docs.filter(col("doc_id") % 2 === 0)
          .withColumn("doc_id", col("doc_id") + lit(10000000L)))
      Dedup.nearDedupIncrementalStaged(s, batch, "doc_id", "text", idx)
        .survivors.select(col("doc_id")).orderBy(col("doc_id"))
    },

    // Gopher-style repetition signals: unique-token ratio, duplicate-
    // bigram fraction, and most-frequent-token share — the quality
    // gates that catch boilerplate/spam before training. See
    // [[repetition]] for the plan; ratios threshold on ROUNDED
    // values; a single-token doc has no bigrams → dup ratio 0 on
    // both engines.
    "d18_repetition" -> { (s, dir) =>
      repetition(TableCatalog(s, dir).documents).orderBy(col("doc_id"))
    },

    // Benchmark decontamination: distinct 3-gram overlap of every
    // training doc against a benchmark corpus (stood in here by the
    // deterministic doc_id % 97 == 0 slice — in production the
    // benchmark is its own small table). The benchmark shingle set
    // broadcasts; the corpus side never shuffles for the membership
    // test (see Dedup.contamination).
    "d19_contamination" -> { (s, dir) =>
      val docs = TableCatalog(s, dir).documents
      Dedup.contamination(
          docs.filter(col("doc_id") % 97 =!= 0),
          "doc_id", "text",
          bench = docs.filter(col("doc_id") % 97 === 0),
          k = 3, threshold = 0.5)
        .orderBy(col("doc_id"))
    },

    // Duplicate clusters: connected components over the exact-Jaccard
    // pair graph (threshold 0.5 — d02's pair set) via min-label
    // propagation; the keep-one-per-cluster decision an actual dedup
    // run executes (see Dedup.dupClusters).
    "d22_dup_clusters" -> { (s, dir) =>
      val pairs = Dedup.shingleJaccard(TableCatalog(s, dir).documents,
        "doc_id", "text", k = 3, threshold = 0.5)
      Dedup.dupClusters(pairs).orderBy(col("cluster_id"))
    },

    // Canonical selection: drop list under the KEEP-BEST policy —
    // each near-dup cluster keeps its LONGEST member (n_chars score,
    // min-id tie-break), not its lowest id. The policy a curation
    // pipeline actually runs: the fullest mirror survives. One
    // struct-max per cluster picks the keeper — no window sorts a
    // cluster's membership (mega-clusters of mirrors stay parallel).
    "d45_canonical_dedup" -> { (s, dir) =>
      val docs = TableCatalog(s, dir).documents
      val pairs = Dedup.shingleJaccard(docs, "doc_id", "text", k = 3, threshold = 0.5)
      Dedup.canonicalDropList(pairs,
          docs.select(col("doc_id"), col("n_chars").as("score")))
        .orderBy(col("doc_id"))
    },

    // Embedding duplicate clusters: the same keep-one-per-cluster
    // step over the EMBEDDING near-dup graph (d09's exact-cosine pair
    // set, rounded-boundary threshold) — composing cosinePairs with
    // the d22 connected-components machinery, as an embedding-dedup
    // run executes. At scale the pair source swaps to the d12 LSH
    // path; the cluster step is source-agnostic.
    "d23_embed_clusters" -> { (s, dir) =>
      val pairs = Similarity.cosinePairs(TableCatalog(s, dir).embeddings,
          "vec_id", "embedding", threshold = 0.449999)
        .withColumn("sim", round(col("sim"), 6))
        .filter(col("sim") >= 0.45)
      Dedup.dupClusters(pairs).orderBy(col("cluster_id"))
    },

    // C4-style paragraph-level dedup: keep the globally first
    // instance of each distinct sentence/paragraph, report per-doc
    // survival (see Dedup.paraDedup — the paragraph text is hashed
    // before the shuffle).
    "d21_para_dedup" -> { (s, dir) =>
      Dedup.paraDedup(TableCatalog(s, dir).documents, "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Corpus-rarity scoring — the unigram-LM quality signal computed
    // with integer-exact arithmetic (no transcendentals, which are
    // not bit-identical across engines): per-doc hapax/rare-token
    // counts and average corpus frequency. Two shuffles: the corpus
    // token-frequency groupBy (map-side combined) and the frequency
    // join keyed on the token — at 100 TB the vocabulary is too big
    // to broadcast. Skew posture (SkewSpec): the Zipf head splits via
    // AQE skew-join when the LM is a stored table (rarityScore), or
    // broadcasts outright via rarity(hotTokens = N); the inline
    // default here cannot AQE-split (agg between shuffle and sort —
    // see the rarity scaladoc) and is sized for the bench corpus.
    "d20_rarity" -> { (s, dir) =>
      rarity(TableCatalog(s, dir).documents).orderBy(col("doc_id"))
    },

    // Stored-LM rarity SERVING path: score the corpus against a
    // PRECOMPUTED unigram-LM frequency table (trained once, scored
    // every crawl batch) — the deployment shape whose plain-shuffle
    // token join AQE CAN skew-split (SkewSpec demonstrates the split;
    // d20's inline join cannot split — see rarity's scaladoc). LM
    // cached per (JVM, sf dir) like the ANN serving keys, so Bench's
    // min-of-2 prices the pure scoring pass; oracle ≡ d20's (the LM
    // covers its own corpus, so scored ≡ inline rarity).
    "d30_rarity_scored" -> { (s, dir) =>
      val freqPath = cachedIndex(s, dir, "unigram_lm") { p =>
        TableCatalog(s, dir).documents
          .select(TokensGenerator.explodeTokens(col("text"), skipEmpty = false).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cf"))
          .write.parquet(p)
      }
      rarityScore(TableCatalog(s, dir).documents, StoreFs.read(s, freqPath))
        .orderBy(col("doc_id"))
    },

    "s01_cosine_topk" -> { (s, dir) =>
      val emb = TableCatalog(s, dir).embeddings
      Similarity.cosineTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "vec_id", "embedding", k = 10)
        .orderBy(col("q_id"), col("rank"))
    },

    "s02_ann_lsh" -> { (s, dir) =>
      val emb = TableCatalog(s, dir).embeddings
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "vec_id", "embedding", k = 10)
        .orderBy(col("q_id"), col("rank"))
    },

    // IVF ANN (rows-only like s02: approximate by design; planted
    // recall asserted in SimilaritySpec). Includes the k-means
    // training job — an honest end-to-end cost.
    "s04_ann_ivf" -> { (s, dir) =>
      val emb = TableCatalog(s, dir).embeddings
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "vec_id", "embedding", k = 10)
        .orderBy(col("q_id"), col("rank"))
    },

    // Product-quantization ANN (rows-only like s02/s04 — approximate
    // by design; recall floors spec-asserted): the memory-bound scale
    // path where the corpus index is m byte codes per vector and ADC
    // scoring is m table lookups per pair, with exact cosine re-rank
    // of the candidate set (see Similarity.pqTopK).
    "s07_ann_pq" -> { (s, dir) =>
      val emb = TableCatalog(s, dir).embeddings
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "vec_id", "embedding", k = 10)
        .orderBy(col("q_id"), col("rank"))
    },

    // Composed IVF-PQ ANN (rows-only like s02/s04/s07 — approximate
    // by design; full-probe ≡ pure-PQ equivalence, planted recall and
    // partition-pruning plan shape all spec-asserted): the production
    // billion-vector serving topology — IVF prunes WHICH cell
    // directories the scan reads, PQ shrinks each row to m ints and
    // each pair score to m ADC lookups, exact cosine re-rank repairs
    // both truncations. Index cached per (JVM, sf dir): the first
    // call builds it, later calls only search — so Bench's min-of-2
    // measures the SERVING path, the shape users run repeatedly.
    "s08_ann_ivfpq" -> { (s, dir) =>
      val emb = TableCatalog(s, dir).embeddings
      val idx = cachedIndex(s, dir, "ivfpq") { p =>
        Similarity.ivfpqBuild(emb, "vec_id", "embedding", p)
      }
      Similarity.ivfpqSearch(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", idx, k = 10)
        .orderBy(col("q_id"), col("rank"))
    },

    // Persisted-IVF serving path (rows-only; ≡ inline spec-asserted):
    // s04 grades the inline train-per-call path, this key grades
    // ivfSearch over a prebuilt index — same min-of-2 cache shape as
    // s08, so the measured region excludes the one-off build.
    "s09_ann_ivf_serve" -> { (s, dir) =>
      val emb = TableCatalog(s, dir).embeddings
      val idx = cachedIndex(s, dir, "ivf") { p =>
        Similarity.ivfBuild(emb, "vec_id", "embedding", p)
      }
      Similarity.ivfSearch(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", idx, k = 10)
        .orderBy(col("q_id"), col("rank"))
    },

    // Index acceptance gate (rows-only; exact-wiring spec oracle):
    // per-query recall@10 of the SERVED IVF index against the exact
    // brute-force top-10 — the evaluation every ANN deployment runs
    // before trusting an index. Joins two O(queries·k) id tables;
    // vectors are only touched by the two searches themselves.
    "s16_ann_recall" -> { (s, dir) =>
      val emb = TableCatalog(s, dir).embeddings
      // one query-side scan feeds BOTH passes (r19): the exact pass's
      // broadcast side and the served probe each re-scanned the
      // embeddings table for the same 10 rows (two 32-split scan jobs
      // per serve in the r18 event logs). Collected into a
      // LocalRelation, so no checkpoint outlives the query.
      val qs = Similarity.collectLocal(emb.filter(col("vec_id") < 10))
      val exact = Similarity.cosineTopK(qs, emb, "vec_id", "vec_id", "embedding", k = 10)
      val idx = cachedIndex(s, dir, "ivf") { p =>
        Similarity.ivfBuild(emb, "vec_id", "embedding", p)
      }
      val approx = Similarity.ivfSearch(qs, "vec_id", "embedding", idx, k = 10)
      Similarity.recallAtK(exact, approx).orderBy(col("q_id"))
    },

    // Index tuning sweep (rows-only; monotonicity spec oracle): the
    // nprobe → macro-recall@10 curve of the served IVF index — the
    // table an operator reads to pick a serving config (s16 grades
    // ONE config; this shows the tradeoff). Probing more cells only
    // ADDS candidates, so the curve is non-decreasing by
    // construction, spec-asserted.
    "s17_ann_tuning" -> { (s, dir) =>
      val emb = TableCatalog(s, dir).embeddings
      // one query-side scan feeds the truth pass and the sweep, and
      // one truth pass feeds every sweep point — both collected into
      // LocalRelations (the s16 note)
      val qs = Similarity.collectLocal(emb.filter(col("vec_id") < 10))
      val exact = Similarity.collectLocal(
        Similarity.cosineTopK(qs, emb, "vec_id", "vec_id", "embedding", k = 10))
      val idx = cachedIndex(s, dir, "ivf") { p =>
        Similarity.ivfBuild(emb, "vec_id", "embedding", p)
      }
      // the sweep probes the index ONCE at max nprobe and ranks every
      // point in one aggregation — bit-identical per point to the
      // per-np ivfSearch calls (SimilaritySpec asserts it)
      val nprobes = Seq(1, 2, 4, 8)
      val served = Similarity.ivfSearchSweep(qs, "vec_id", "embedding", idx, k = 10,
        nprobes = nprobes)
      Similarity.recallAtK(exact.withColumn("nprobe", explode(typedLit(nprobes))),
          served, by = Seq("nprobe"))
        .groupBy(col("nprobe"))
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("recall")), 6).as("macro_recall"))
        .orderBy(col("nprobe"))
    },

    // Index-health report (ORACLE-graded since r13): the acceptance
    // number an ANN deployment reads next to s16's recall — a
    // collapsed coarse quantizer (one mega-cell) keeps recall high
    // while every probe scans half the corpus; the imbalance factor
    // (max cell / mean cell over declared cells) is that probe-cost
    // multiplier. One O(cells)-keyed partial-agg count over the
    // partition column + O(cells) metadata; same cached index as s09.
    // The report is pure counts over the index parquet, so DuckDB can
    // compute the same board: the oracle cannot know the per-JVM temp
    // index path, so the query EXPORTS the index tables (n_id/cell
    // rows, centroid cells, tombstone ids — KBs, never vectors) to a
    // fixed location. Since r14 the export is (a) ONCE per JVM per
    // dataset AND index state — the guard key folds an FS fingerprint
    // of the index tree, so an in-JVM index mutation re-exports
    // rather than leaving the oracle on stale state (ADVICE r14) —
    // keeping min-of-2 bench pricing the pure O(cells) report, not
    // three side-writes (r13 `weak` flag); (b)
    // keyed AND row-tagged by BOTH count(*) and sum(vec_id) over the
    // corpus, so a stale export from a different same-sized dataset
    // can't contaminate the oracle; (c) taken AFTER indexStats has
    // run recoverIndex, so a pending add/delete batch can't make the
    // export diverge from the report (ADVICE r13).
    "s18_index_stats" -> { (s, dir) =>
      val emb = TableCatalog(s, dir).embeddings
      val idx = cachedIndex(s, dir, "ivf") { p =>
        Similarity.ivfBuild(emb, "vec_id", "embedding", p)
      }
      // indexStats folds pending batches (recoverIndex) eagerly in its
      // body — the export below therefore reads the recovered tables.
      val stats = Similarity.indexStats(s, idx)
      s18ExportOnce.computeIfAbsent(
          s"$dir#$idx#${StoreFs.fingerprint(s, idx)}", { _ =>
        val key = emb.agg(count(lit(1)).as("nc"),
          sum(col("vec_id")).as("sv")).head()
        val (nc, sv) = (key.getLong(0), key.getLong(1))
        val ex = s"$s18ExportRoot/k=${nc}_$sv"
        StoreFs.read(s, s"$idx/cells")
          .select(col("n_id"), col("cell").cast("long").as("cell"),
            lit(nc).as("n_corpus"), lit(sv).as("vec_sum"))
          .write.mode("overwrite").parquet(s"$ex/cells")
        StoreFs.read(s, s"$idx/centroids")
          .select(col("cell").cast("long").as("cell"),
            lit(nc).as("n_corpus"), lit(sv).as("vec_sum"))
          .write.mode("overwrite").parquet(s"$ex/centroids")
        graft.operators.IndexLog.tombstones(s, idx, "n_id")
          .getOrElse(s.range(0).select(col("id").as("n_id")))
          .withColumn("n_corpus", lit(nc)).withColumn("vec_sum", lit(sv))
          .write.mode("overwrite").parquet(graft.operators.IndexLog.tombstonePath(ex))
        java.lang.Boolean.TRUE
      })
      stats
    },

    // Persisted-PQ serving path (rows-only; ≡ inline spec-asserted):
    // the s07 counterpart — pqSearch scans the m-ints codes table of
    // a prebuilt index instead of re-training and re-encoding.
    "s10_ann_pq_serve" -> { (s, dir) =>
      val emb = TableCatalog(s, dir).embeddings
      val idx = cachedIndex(s, dir, "pq") { p =>
        Similarity.pqBuild(emb, "vec_id", "embedding", p)
      }
      Similarity.pqSearch(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", idx, k = 10)
        .orderBy(col("q_id"), col("rank"))
    },

    // Embedding PCA/whitening (rows-only — the model is a float
    // eigendecomposition; orthonormality / variance≡eigenvalue /
    // whitening / determinism are spec-asserted): one corpus pass
    // builds the Gramian (33 KB of partials per partition), the
    // projection is a broadcast literal matrix multiply per row.
    // Output: per-label variance of the first two WHITENED
    // coordinates — ≈1.0 when the rotation is right.
    // Metadata-FILTERED ANN serving path — "top-k among label=0
    // docs", the predicate+vector retrieval every RAG deployment
    // runs. ORACLE-graded, not rows-only: with nprobe = nCells the
    // IVF scan is a full probe, so search over the allowed subset IS
    // the exact filtered top-k, and rank = (sim DESC, n_id) mirrors
    // s01's oracle discipline exactly. The allowed-id semi-join
    // prunes candidates BEFORE ranking (a post-filter would return
    // fewer than k rows).
    "s13_ann_filtered" -> { (s, dir) =>
      val emb = TableCatalog(s, dir).embeddings
      val idx = cachedIndex(s, dir, "ivf") { p =>
        Similarity.ivfBuild(emb, "vec_id", "embedding", p)
      }
      Similarity.ivfSearch(emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          idx, k = 10, nprobe = 16,
          allowed = Some(emb.filter(col("label") === 0).select(col("vec_id"))))
        .orderBy(col("q_id"), col("rank"))
    },

    // Rotated (OPQ-lite) PQ serving path (rows-only; rotated ≡
    // unrotated semantics and recall ≥ unrotated are spec-asserted):
    // the s10 counterpart with the balanced-PCA rotation baked into
    // the index — codebooks trained on, and codes stored in, the
    // rotated basis; search rotates only the LUT side. The bench
    // number prices the rotation's per-query cost (one broadcast
    // matrix multiply per query vector) against s10.
    "s12_ann_opq_serve" -> { (s, dir) =>
      val emb = TableCatalog(s, dir).embeddings
      val idx = cachedIndex(s, dir, "opq") { p =>
        Similarity.pqBuild(emb, "vec_id", "embedding", p, rotate = true)
      }
      Similarity.pqSearch(emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", idx, k = 10)
        .orderBy(col("q_id"), col("rank"))
    },

    "s11_embed_pca" -> { (s, dir) =>
      val emb = TableCatalog(s, dir).embeddings
      val model = graft.similarity.Pca.train(emb, "embedding", r = 4)
      graft.similarity.Pca.project(emb, "embedding", model, whiten = true)
        .select(col("label"),
          element_at(col("pca"), 1).as("p1"), element_at(col("pca"), 2).as("p2"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          (sum(col("p1") * col("p1")) / count(lit(1))).as("var_pc1"),
          (sum(col("p2") * col("p2")) / count(lit(1))).as("var_pc2"))
        .orderBy(col("label"))
    },

    // Hybrid retrieval with reciprocal-rank fusion: a token-Jaccard
    // text ranking and a cosine vector ranking per query, fused as
    // Σ 1/(60 + rank) — the standard RRF the retrieval stack of a
    // RAG/training pipeline runs. Determinism: ranks are row_numbers
    // over (score DESC, id) where the text score is an exact integer
    // ratio and the cosine is ROUNDED to 6 decimals before ranking
    // (the d09 lesson: unrounded cross-engine cosines differ by
    // ~1e-15, which a rank boundary would amplify) — so both rank
    // lists, and hence the fused scores (reciprocals of exact ints),
    // are engine-identical. The query side broadcasts; the corpus
    // side is scanned once with per-row HOF scoring, then two
    // per-query windows.
    "s06_rrf_fusion" -> { (s, dir) =>
      val c = TableCatalog(s, dir)
      val corpus = c.documents
        // distinct tokens ≡ 1-shingles: the streaming tokenizer's
        // distinct set, not a materialized token array (r17)
        .select(col("doc_id"),
          graft.functions.ShinglesExpr.shinglesFromText(col("text"), 1).as("toks"))
        .join(c.embeddings.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      val queries = corpus.filter(col("doc_id") < 5)
        .select(col("doc_id").as("q_id"), col("toks").as("q_toks"),
          col("embedding").as("q_emb"))
      Similarity.rrfFusion(corpus, queries, k = 10)
        .orderBy(col("q_id"), col("rank"))
    },

    // Int8 scalar quantization of embeddings (per-vector symmetric
    // scale = 127/max|x|) — the compression step before an ANN index
    // ships to serving. Pure HOFs; float→double promotion is exact on
    // both engines and round() ties go away-from-zero on both, so the
    // quantized geometry (sum, clip count) hash-verifies.
    "s05_embed_quantize" -> { (s, dir) =>
      val v = col("embedding")
      TableCatalog(s, dir).embeddings
        .withColumn("__ma", array_max(transform(v, x => abs(x))).cast("double"))
        .filter(col("__ma") > 0)
        .withColumn("__q", transform(v,
          x => round(x.cast("double") * lit(127.0) / col("__ma")).cast("long")))
        .select(col("vec_id"),
          round(col("__ma"), 6).as("max_abs"),
          aggregate(col("__q"), lit(0L), (acc, x) => acc + x).as("sum_q"),
          size(filter(col("__q"), e => abs(e) === 127)).as("n_clip"))
        .orderBy(col("vec_id"))
    },

    "s03_vector_norms" -> { (s, dir) =>
      Similarity.normStats(TableCatalog(s, dir).embeddings, "label", "embedding")
        .select(col("grp"), col("n_vecs"),
          round(col("min_norm"), 6).as("min_norm"),
          round(col("max_norm"), 6).as("max_norm"),
          col("avg_norm"))
        .orderBy(col("grp"))
    },

    "m01_binary_meta" -> { (s, dir) =>
      val docs = Multimodal.withPayload(TableCatalog(s, dir).documents, "text")
      docs.select(col("doc_id"),
          octet_length(col("payload")).as("byte_len"),
          lower(substring(hex(col("payload")), 1, 16)).as("head_hex"))
        .orderBy(col("doc_id"))
    },

    "m02_decode_features" -> { (s, dir) =>
      val docs = Multimodal.withPayload(TableCatalog(s, dir).documents, "text")
      Multimodal.extractFeatures(s, docs, "doc_id").toDF()
        .orderBy(col("doc_id"))
    },

    // Real audio decode (rows-only like m02: binary decode has no SQL
    // oracle; the WAV path is spec-verified against known sine-wave
    // RMS/peak/duration). Payloads are deterministic synthetic WAVs —
    // the corpus carries no media blobs — generated executor-side, a
    // pure function of doc_id.
    "m03_audio_features" -> { (s, dir) =>
      import s.implicits._
      // doc_id < 64, not limit(64): limit without orderBy has no
      // guaranteed row selection (the m04 lesson), so which docs got
      // synthetic WAVs would vary with the parquet layout.
      val docs = TableCatalog(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 64)
        .as[Long].map(id => (id, Multimodal.syntheticWav(id)))
        .toDF("doc_id", "payload")
      Multimodal.extractAudioFeatures(s, docs, "doc_id").toDF()
        .withColumn("rms", round(col("rms"), 6))
        .withColumn("peak", round(col("peak"), 6))
        .orderBy(col("doc_id"))
    },

    // Perceptual image dedup (rows-only like m02/m03: binary decode
    // has no SQL oracle; the planted-duplicate recall is
    // spec-verified). Payloads are deterministic synthetic PNGs —
    // sibling ids (2k, 2k+1) render the SAME pattern seed at
    // DIFFERENT sizes, i.e. planted resized/re-encoded duplicates —
    // fingerprinted with dHash and paired via the banded hamming
    // join the SimHash text path uses.
    "m04_image_dedup" -> { (s, dir) =>
      import s.implicits._
      // doc_id < 64, not limit(64): limit without orderBy has no
      // guaranteed row selection, and the planted sibling pairs
      // (2k, 2k+1) need BOTH ids to survive under any parquet layout.
      val docs = TableCatalog(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 64)
        .as[Long].map { id =>
          val size = if (id % 2 == 0) 64 else 48
          (id, Multimodal.syntheticImage(id / 2, size, size))
        }.toDF("doc_id", "payload")
      val fps = Multimodal.dHash(s, docs, "doc_id").toDF()
        .filter(col("decoded")).select(col("doc_id"), col("fp"))
      Dedup.hammingPairs(fps, maxHamming = 6)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Video near-dup (rows-only like m02-m04: binary decode has no
    // SQL oracle; pair recall/precision spec-verified in
    // MultimodalSpec). Sibling videos (2k, 2k+1) share their two
    // SAMPLED frames (independent JPEG re-encodes of the same m04
    // pattern seeds); odd noise frames differ. frameHashes → banded
    // hamming join over composite frame ids → per-video-pair rollup.
    "m05_video_dedup" -> { (s, dir) =>
      import s.implicits._
      val seedPairs = Seq((0L, 4L), (8L, 13L), (17L, 22L), (26L, 31L))
      val docs = TableCatalog(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 8)
        .as[Long].map { id =>
          val (sa, sb) = seedPairs((id / 2).toInt)
          (id, Multimodal.syntheticVideo(Seq(sa, id * 1000 + 1, sb, id * 1000 + 3)))
        }.toDF("doc_id", "payload")
      Multimodal.videoDupPairs(s, docs, "doc_id", step = 2,
          maxHamming = 6, minShared = 2,
          decoder = Multimodal.MjpegAviFrameDecoder)
        .orderBy(col("video_a"), col("video_b"))
    },

    // Audio segmentation (rows-only; planted-boundary spec oracle):
    // VAD-lite silence/activity segments over synthetic
    // tone-silence-tone WAVs — each payload must yield exactly its
    // three planted segments on the window grid (m06's audio
    // sibling: boundaries, not per-item features).
    "m07_audio_segments" -> { (s, dir) =>
      import s.implicits._
      val docs = TableCatalog(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 32)
        .as[Long].map(id => (id, Multimodal.syntheticWavSegments(id,
          Seq((0.1, 0.5), (0.1, 0.0), (0.1, 0.5)))))
        .toDF("doc_id", "payload")
      Multimodal.segmentAudio(s, docs, "doc_id").toDF()
        .withColumn("start_s", round(col("start_s"), 4))
        .withColumn("end_s", round(col("end_s"), 4))
        .orderBy(col("doc_id"), col("seg_idx"))
    },

    // Scene-cut detection (rows-only; planted-boundary spec oracle):
    // keyframe selection over the same MJPEG-AVI walk as m05 — each
    // synthetic video carries two 3-frame scenes, and the per-video
    // lag window flags exactly the scene boundary (frame 3) via the
    // codegen'd POPCOUNT(XOR) hamming distance.
    "m06_scene_cuts" -> { (s, dir) =>
      import s.implicits._
      val docs = TableCatalog(s, dir).documents.select(col("doc_id"))
        .filter(col("doc_id") < 8)
        .as[Long].map { id =>
          val (sa, sb) = (id * 7 + 1, id * 7 + 2)
          (id, Multimodal.syntheticVideo(Seq(sa, sa, sa, sb, sb, sb)))
        }.toDF("doc_id", "payload")
      Multimodal.sceneCuts(s, docs, "doc_id", step = 1, minHamming = 10,
          decoder = Multimodal.MjpegAviFrameDecoder)
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // Corpus vocabulary profile: top-100 tokens by occurrence count
    // with document frequency — the first thing a tokenizer team asks
    // of a new corpus. One explode → token-keyed groupBy (map-side
    // combined; the Zipf head is the AQE skew case d20 documents),
    // then TakeOrderedAndProject for the top-k — no global sort ever
    // materializes at 100 TB. Fully deterministic: the tie-break on
    // the token itself pins the rank-100 boundary on both engines.
    // BPE merge statistics: the most frequent ADJACENT token pairs
    // across the corpus — the candidate table a BPE/WordPiece trainer
    // consumes each merge round (d28 profiles unigrams; merges need
    // bigram adjacency). One in-row transform builds the pair
    // structs, then a pair-keyed partial-agg shuffle (Zipf-headed
    // like d28 — the documented AQE skew case) and a
    // TakeOrderedAndProject top-k: no global sort at any scale. The
    // size guard matters: Spark's sequence(1, 0) DESCENDS, so
    // single-token docs must emit an empty array, not a phantom pair.
    "d44_bpe_pairs" -> { (s, dir) =>
      // lazy bigram generator (r17): the transform built a pair-struct
      // array ~2× the giant's token array in ONE row eval
      TableCatalog(s, dir).documents
        .select(BigramsGenerator.explodeBigrams(col("text"), filtered = false)
          .as(Seq("tok_a", "tok_b")))
        .groupBy(col("tok_a"), col("tok_b"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok_a"), col("tok_b"))
        .limit(100)
    },

    "d28_vocab_topk" -> { (s, dir) =>
      TableCatalog(s, dir).documents
        .select(col("doc_id"),
          TokensGenerator.explodeTokens(col("text"), skipEmpty = true).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occurrences").desc, col("token"))
        .limit(100)
    },

    // Document-length histogram (500-char buckets): the corpus-shape
    // profile that drives chunking/packing decisions. Integer-exact
    // (div + sums of longs), one partial-agg shuffle over O(buckets)
    // keys — the cheapest possible full-corpus statistic.
    "d29_doc_len_hist" -> { (s, dir) =>
      TableCatalog(s, dir).documents
        .select(expr("(n_chars div 500) * 500").as("bucket_lo"))
        .groupBy(col("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("bucket_lo"))
    },

    // Cross-source shingle-overlap matrix — mirror detection across
    // domains/feeds (see Dedup.sourceOverlap for the scale shape: one
    // corpus-sized distinct on (source, shingle-hash), source-count-
    // bounded pair expansion, broadcast size joins). containment is
    // one IEEE division of exact distinct counts.
    "d41_source_overlap" -> { (s, dir) =>
      Dedup.sourceOverlap(TableCatalog(s, dir).documents,
          "doc_id", "text", "source", k = 3)
        .orderBy(col("src_a"), col("src_b"))
    },

    // Within-source duplication profile (see Dedup.sourceDupRate:
    // per-doc-distinct shingles, two stacked partial aggs, no
    // Expand) — d41's complement: how boilerplate-heavy each feed is.
    "d43_source_dup_rate" -> { (s, dir) =>
      Dedup.sourceDupRate(TableCatalog(s, dir).documents,
          "doc_id", "text", "source", k = 3)
        .orderBy(col("src"))
    },

    // Deterministic shuffle-and-shard balance report (see
    // Sampling.shuffleShard: the 48-bit md5 order hash is each doc's
    // permanent shuffle position; shardWrite materializes the
    // training order). Graded here: the per-shard doc/token masses
    // and hash ranges — all exact integers, one partial-agg shuffle
    // over O(shards) keys.
    "d42_shuffle_shards" -> { (s, dir) =>
      Sampling.shuffleShard(TableCatalog(s, dir).documents, "doc_id", 8)
        .select(col("shard"), col("__h").as("h"),
          TokenCountExpr.nonEmptyTokenCount(col("text")).as("n_tok"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("h")).as("min_h"), max(col("h")).as("max_h"))
        .orderBy(col("shard"))
    },

    // Temperature-weighted source-mixing table — the mixture-design
    // step of a training run (sample sources ∝ token_mass^(1/T), here
    // T = 2, flattening the natural distribution toward small
    // sources). Counts are exact longs; the only doubles are one sqrt
    // + one division each, rounded to 6 dp on both engines. The
    // unpartitioned window normalizer runs over O(sources) rows — a
    // catalog-sized frame (20 here, maybe thousands at 100 TB), never
    // corpus-sized; the corpus itself is touched once by the
    // map-side-combined groupBy.
    "d32_source_mix" -> { (s, dir) =>
      val per = TableCatalog(s, dir).documents
        .select(col("source"),
          TokenCountExpr.nonEmptyTokenCount(col("text")).as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      val all = org.apache.spark.sql.expressions.Window.partitionBy()
      per
        .withColumn("mix_weight",
          round(sqrt(col("n_tokens")) / sum(sqrt(col("n_tokens"))).over(all), 6))
        .withColumn("epochs_per_1m",
          round(col("mix_weight") * lit(1000000L) / col("n_tokens"), 6))
        .orderBy(col("source"))
    },

    // Top-3 characteristic terms per document by an integer-exact
    // tf-idf surrogate: score = tf * 1e6 div df (the corpus-size
    // factor N is constant per corpus, so dividing by df alone
    // preserves the tf-idf ranking while keeping every score an exact
    // long — no log, no doubles, bit-identical across engines). Plan:
    // one explode → (doc, token) partial-agg shuffle, a token-keyed
    // df join (the Zipf head is AQE skew-join territory, same posture
    // as d30's stored-LM join), and a per-doc row_number window. At
    // 100 TB the df table is vocabulary-sized — orders of magnitude
    // smaller than the corpus but too big to broadcast, hence the
    // shuffle join.
    "d33_tfidf_topk" -> { (s, dir) =>
      val tf = TableCatalog(s, dir).documents
        .select(col("doc_id"),
          TokensGenerator.explodeTokens(col("text"), skipEmpty = true).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfTab = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
      tf.join(dfTab, "token")
        .withColumn("score", expr("tf * 1000000L div df"))
        .withColumn("term_rank", row_number().over(byDoc))
        .filter(col("term_rank") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          col("score"), col("term_rank"))
        .orderBy(col("doc_id"), col("term_rank"))
    },

    // Inverted-index build — the retrieval-serving artifact (token →
    // document frequency + the first 20 postings by doc_id). The
    // bounded posting head uses graft's native CollectMinK
    // DeclarativeAggregate: O(k) state per token with map-side partial
    // combine, so the Zipf head token ("a", in every document) costs
    // each mapper one 20-element array instead of an unbounded
    // collect_list or a full-partition row_number window — THE shape
    // that survives a 100 TB corpus. Two shuffles: the (token, doc)
    // distinct and the token agg.
    "d34_inverted_index" -> { (s, dir) =>
      import graft.functions.CollectMinK.collectMinK
      TableCatalog(s, dir).documents
        .select(TokensGenerator.explodeTokens(col("text"), skipEmpty = true).as("token"),
          col("doc_id"))
        .distinct()
        .groupBy(col("token"))
        .agg(count(lit(1)).as("df"),
          collectMinK(col("doc_id"), 20).as("arr"))
        .select(col("token"), col("df"),
          array_join(transform(col("arr"), _.cast("string")), ",").as("postings"))
        .orderBy(col("token"))
    },

    // Boolean retrieval over the STORED postings index — the serving
    // twin of d34 (build-once/query-many, the d26/s09 discipline):
    // coverage-ranked AND-ish retrieval for a fixed token set. The
    // index is written `partitionBy(token)`, so a query reads ONLY
    // its tokens' directories (static partition pruning, asserted in
    // TextIndexSpec) — at 100 TB a 3-token query touches 3 posting
    // directories, never the corpus. TakeOrderedAndProject caps the
    // result without a global sort.
    "d36_bool_retrieval" -> { (s, dir) =>
      val idxPath = cachedIndex(s, dir, "text_postings") { p =>
        TableCatalog(s, dir).documents
          .select(TokensGenerator.explodeTokens(col("text"), skipEmpty = true).as("token"),
            col("doc_id"))
          .distinct()
          .write.partitionBy("token").parquet(p)
      }
      val qTokens = Seq("spark", "vector", "stream")
      // r19: path-level pruning — list the 3 token directories, not
      // the whole vocabulary tree (TextIndex.tokenPrunedRead; the
      // isin stays as the correctness guard + declared pruning)
      TextIndex.tokenPrunedRead(s, idxPath, qTokens)
        .filter(col("token").isin(qTokens: _*))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_matched"))
        .filter(col("n_matched") >= 2)
        .orderBy(col("n_matched").desc, col("doc_id"))
        .limit(100)
    },

    // Bigram-LM perplexity scoring — the perplexity quality filter
    // (CCNet's KenLM role): P(w2|w1) = (c(w1 w2)+1)/(c(w1 ·)+V)
    // (Laplace-smoothed MLE over the corpus itself; a deployment
    // stores the LM tables like d30 stores its unigram LM), per-doc
    // avg log-prob and perplexity. Determinism: counts and V are
    // exact ints; each bigram's ln rounds to 6 decimals (the d37
    // discipline — ln is the one non-IEEE-specified op) and the
    // per-doc sum runs in DECIMAL, so the distributed order cannot
    // change a score; ppl re-rounds after the one exp. Plan: bigrams
    // assemble INSIDE a zip_with HOF pre-explode; the two count
    // joins are token-keyed (the Zipf head = AQE skew posture,
    // d30/d33); V is one O(1) driver-side count — the LM constant,
    // not a per-row subquery.
    "d40_perplexity" -> { (s, dir) =>
      // lazy generators (r17): the filtered token array `a` plus the
      // zip_with pair-struct assembly cost ~3× the giant's token
      // array in one row eval; both stream now
      val docs = TableCatalog(s, dir).documents
      val v = docs
        .select(TokensGenerator.explodeTokens(col("text"), skipEmpty = true).as("t"))
        .agg(countDistinct(col("t"))).head().getLong(0)
      val bg = docs.select(col("doc_id"),
          BigramsGenerator.explodeBigrams(col("text"), filtered = true)
            .as(Seq("w1", "w2")))
      val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      // c(w1 ·) = Σ_w2 c(w1 w2): derive the unigram-context table from
      // the bigram table instead of a SECOND corpus tokenize pass —
      // one fewer full scan at any scale, and the two LM tables were
      // independent AQE stages whose CONCURRENT giant-doc scans were
      // exactly the 4g-cell reader OOM on the zipf corpus (r17)
      val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .withColumn("lp", round(log((col("c2") + lit(1)) / (col("c1") + lit(v))), 6)
          .cast("decimal(18,6)"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
        // unrounded IEEE division (the t15 lesson): identical exact
        // operands → bit-identical quotient on any engine; rounding
        // it would re-introduce a half-way convention to disagree on
        .withColumn("avg_logp", col("slp").cast("double") / col("n_bigrams"))
        .withColumn("ppl", round(exp(-col("avg_logp")), 4))
        .select(col("doc_id"), col("n_bigrams"), col("avg_logp"), col("ppl"))
        .orderBy(col("doc_id"))
    },

    // Model-based source classification — the classifier-filtering
    // step of a curation pipeline (CCNet/fastText-style "does this
    // look like wiki or crawl"), as a frequency-centroid / NB
    // surrogate with INTEGER-EXACT weights: w(token, class) =
    // cnt(token, class)·1e9 div total(class) (per-class relative
    // frequency — the 1e9 scale keeps every weight and score an
    // exact long at these corpus sizes; a 100 TB deployment divides
    // first), score(doc, class) = Σ tf·w, prediction = argmax with
    // a class-name tie-break via min(struct(-score, class)) — one
    // struct-ordered agg, no per-doc window. Output is the bounded
    // (actual, predicted) confusion matrix. Plan: the token-keyed
    // tf ⋈ weights join is the d30/d33 Zipf-head posture (AQE
    // skew-split); the fan-out is ×O(classes) — the NB cost.
    "d39_source_classifier" -> { (s, dir) =>
      val toks = TableCatalog(s, dir).documents
        .select(col("doc_id"), col("source").as("actual"),
          TokensGenerator.explodeTokens(col("text"), skipEmpty = true).as("token"))
      // class totals derive from the per-(class, token) counts —
      // Σ_token cnt ≡ the token-instance count per class — instead of
      // a second corpus tokenize pass (the d40 single-scan LM
      // discipline, r17)
      val perTok = toks.groupBy(col("actual").as("clazz"), col("token"))
        .agg(count(lit(1)).as("cnt"))
      val classTot = perTok.groupBy(col("clazz")).agg(sum(col("cnt")).as("total"))
      val weights = perTok
        .join(broadcast(classTot), "clazz")
        .withColumn("w", expr("cnt * 1000000000L div total"))
      // Σ_distinct-tokens tf·w ≡ Σ_token-instances w (exact longs), so
      // token instances join the broadcast model directly — no per-doc
      // tf pre-aggregation. That shuffle's output was tiny in BYTES
      // (sketch-sized partials) but carried the whole ×classes join
      // fan-out behind it, so AQE's byte-based coalescing collapsed
      // the fan-out + 10⁶-group partial agg onto ONE task (measured:
      // a 19.6 s single-task stage at sf1); keyed off the scan, the
      // fan-out parallelizes by file splits at every scale.
      // Broadcast ceiling: the model is vocab×classes rows — Heaps'
      // law keeps natural-language vocabulary sublinear in corpus
      // size (≈10⁶ terms per language even at web scale, a few MB of
      // (token, class, w) rows); a deployment whose vocabulary
      // genuinely outgrows a broadcast must prune the model (min-df /
      // top-k per class — standard for NB/fastText-style filters)
      // before classifying, not shuffle the corpus by token.
      toks.join(broadcast(weights), "token")
        .groupBy(col("doc_id"), col("actual"), col("clazz"))
        .agg(sum(col("w")).as("score"))
        .groupBy(col("doc_id"), col("actual"))
        .agg(min(struct((-col("score")).as("neg"), col("clazz").as("clazz"))).as("best"))
        .groupBy(col("actual"), col("best.clazz").as("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("actual"), col("predicted"))
    },

    // Mixture-design MATERIALIZATION — d32's temperature-flattened
    // weights driving an actual sample: each source's keep rate is
    // min(1, weight·budget / token_mass) for a 100k-token slice,
    // applied as Sampling.weighted's deterministic hash-priority
    // filter (floor(rate·2¹⁶) integer thresholds — reproducible on
    // any engine/partitioning, nested across budgets). The rate
    // table is catalog-sized and broadcasts onto the corpus scan;
    // the summary shows what the mixture actually kept. Rate
    // arithmetic: the 6-dec-rounded weight is the only windowed
    // value, everything after is fixed-order IEEE double + floor.
    "d38_mix_sample" -> { (s, dir) =>
      val docs = TableCatalog(s, dir).documents
        .select(col("doc_id"), col("source"),
          TokenCountExpr.nonEmptyTokenCount(col("text")).as("n_tok"))
      val all = org.apache.spark.sql.expressions.Window.partitionBy()
      val rates = docs.groupBy(col("source"))
        .agg(sum(col("n_tok")).cast("long").as("n_tokens"))
        .withColumn("mix_weight",
          round(sqrt(col("n_tokens")) / sum(sqrt(col("n_tokens"))).over(all), 6))
        .withColumn("rate",
          least(lit(1.0), col("mix_weight") * lit(100000.0) / col("n_tokens")))
      val kept = Sampling.weighted(docs, "doc_id", "source", rates, "rate")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).cast("long").as("kept_tokens"))
      kept.join(rates.select(col("source"),
          floor(col("rate") * lit(65536.0)).cast("long").as("thr")), "source")
        .select(col("source"), col("thr"), col("n_kept"), col("kept_tokens"))
        .orderBy(col("source"))
    },

    // Okapi BM25 ranked retrieval over the stored text index — the
    // ranked twin of d36's boolean coverage (build-once/query-many,
    // the d26/s09 discipline). Each query token reads ONE pruned
    // postings directory (static partition filters); df is counted
    // over that pruned read; avgdl and N come from the index's O(1)
    // stats sidecar, so the serving path never aggregates the
    // corpus. Determinism: idf (the one ln in the engine) and each
    // per-token term round to 6 decimals, terms sum as DECIMAL
    // (exact/associative), ranking orders on the exact decimal with
    // a doc-id tie-break — see TextIndex.bm25.
    "d37_bm25_topk" -> { (s, dir) =>
      val idxPath = cachedIndex(s, dir, "text_bm25") { p =>
        TextIndex.build(TableCatalog(s, dir).documents, "doc_id", "text", p)
      }
      TextIndex.bm25(s, idxPath, Seq("spark", "vector", "stream"))
        .orderBy(col("score").desc, col("doc_id"))
    },

    // HYBRID retrieval serving — the RAG deployment shape: BM25 over
    // the persisted text index + vector search over the persisted
    // IVF index (FULL-probe ⇒ exact, the s13 trick that keeps an
    // approximate-by-design path oracle-gradable), fused by
    // reciprocal-rank: rrf = 1/(60+rt) + 1/(60+rv), absent legs
    // contribute 0 (a doc can match by text, by vector, or both —
    // embeddings cover a prefix of the doc-id space). Both legs are
    // build-once/query-many serving paths (d26/s09 discipline);
    // the fusion windows order ≤100-row leg results — bounded, never
    // corpus-sized. Ranks are ints, reciprocals exact IEEE, the
    // fused score rounds to 6 decimals before the final ordering.
    "s14_hybrid_serve" -> { (s, dir) =>
      val textIdx = cachedIndex(s, dir, "text_bm25") { p =>
        TextIndex.build(TableCatalog(s, dir).documents, "doc_id", "text", p)
      }
      val annIdx = cachedIndex(s, dir, "hybrid_ivf") { p =>
        Similarity.ivfBuild(TableCatalog(s, dir).embeddings,
          "vec_id", "embedding", p, nCells = 16)
      }
      val w = org.apache.spark.sql.expressions.Window
      val t = TextIndex.bm25(s, textIdx, Seq("spark", "vector", "stream"), topK = 100)
        .withColumn("rt", row_number().over(
          w.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("rt"))
      val v = Similarity.ivfSearch(
          TableCatalog(s, dir).embeddings.filter(col("vec_id") === 0),
          "vec_id", "embedding", annIdx, k = 100, nprobe = 16)
        .select(col("n_id").as("doc_id"), col("rank").as("rv"))
      t.join(v, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("rt")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)), 6))
        .withColumn("rank", row_number().over(
          w.orderBy(col("rrf").desc, col("doc_id"))))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("rt"), col("rv"), col("rrf"))
        .orderBy(col("rank"))
    },

    // Metadata-FILTERED hybrid retrieval — s14's fusion under s13's
    // filter contract on BOTH legs: the allowed-id set (here: even
    // ids — a stand-in for any tenant/license/language predicate)
    // semi-joins each leg's candidates BEFORE its top-k cut, while
    // BM25's idf/avgdl and the IVF geometry stay GLOBAL (filtering
    // the candidates, never the index — the s13 contract). Full-probe
    // IVF keeps the whole composition oracle-gradable.
    "s15_hybrid_filtered" -> { (s, dir) =>
      val textIdx = cachedIndex(s, dir, "text_bm25") { p =>
        TextIndex.build(TableCatalog(s, dir).documents, "doc_id", "text", p)
      }
      val annIdx = cachedIndex(s, dir, "hybrid_ivf") { p =>
        Similarity.ivfBuild(TableCatalog(s, dir).embeddings,
          "vec_id", "embedding", p, nCells = 16)
      }
      val allowedT = TableCatalog(s, dir).documents
        .select(col("doc_id")).filter(col("doc_id") % 2 === 0)
      val allowedV = TableCatalog(s, dir).embeddings
        .select(col("vec_id")).filter(col("vec_id") % 2 === 0)
      val w = org.apache.spark.sql.expressions.Window
      val t = TextIndex.bm25(s, textIdx, Seq("spark", "vector", "stream"),
          topK = 100, allowed = Some(allowedT))
        .withColumn("rt", row_number().over(
          w.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("rt"))
      val v = Similarity.ivfSearch(
          TableCatalog(s, dir).embeddings.filter(col("vec_id") === 0),
          "vec_id", "embedding", annIdx, k = 100, nprobe = 16,
          allowed = Some(allowedV))
        .select(col("n_id").as("doc_id"), col("rank").as("rv"))
      t.join(v, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("rt")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)), 6))
        .withColumn("rank", row_number().over(
          w.orderBy(col("rrf").desc, col("doc_id"))))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("rt"), col("rv"), col("rrf"))
        .orderBy(col("rank"))
    },

    // PII scrubbing — redact emails / IPv4s / digit runs (declaration
    // order) with per-class match counts, over the events props
    // payload (the corpus field that actually carries digits; the
    // planted-PII spec proves each class end-to-end). Pure codegen'd
    // regexp_replace/regexp_extract_all — a narrow per-row transform
    // with no shuffle at all: at 100 TB this is a map-only pass that
    // rides whatever partitioning the scan has.
    "d35_pii_scrub" -> { (s, dir) =>
      piiScrub(TableCatalog(s, dir).events.select(col("event_id"), col("props")),
          "props")
        .select(col("event_id"), col("scrubbed"),
          col("n_email"), col("n_ipv4"), col("n_number"))
        .orderBy(col("event_id"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "d01_dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS min_doc_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "d46_token_yield" ->
      """WITH f AS (SELECT source, len(string_split(text, ' ')) AS n_tokens,
        |    doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_raw,
        |  CAST(sum(CASE WHEN keeper THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_unique,
        |  round(CAST(sum(CASE WHEN keeper THEN n_tokens ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(n_tokens) AS DOUBLE), 6) AS yield
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "d47_label_audit" ->
      s"""WITH p AS (SELECT doc_id, lang, ' ' || text || ' ' AS pt FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  $langScoreExprsSql
         |FROM p),
         |pr AS (SELECT lang AS labeled_lang,
         |  $langCaseSql AS pred_lang
         |FROM sc),
         |cells AS (SELECT labeled_lang, pred_lang, count(*) AS n_docs
         |  FROM pr GROUP BY 1, 2)
         |SELECT labeled_lang, pred_lang, n_docs,
         |  CAST(sum(n_docs) OVER (PARTITION BY labeled_lang) AS BIGINT) AS label_total,
         |  n_docs / CAST(sum(n_docs) OVER (PARTITION BY labeled_lang) AS BIGINT) AS share
         |FROM cells ORDER BY 1, 2""".stripMargin,

    "d50_gopher_rules" ->
      """WITH s AS (SELECT source,
        |    len(string_split(text, ' ')) AS nt,
        |    length(text) AS nc,
        |    length(text) - length(replace(text, ' ', '')) AS nsp,
        |    length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS npu,
        |    (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5
        |    + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) / 5
        |    + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' with ', ''))) / 6 AS nsw
        |  FROM documents),
        |v AS (SELECT source,
        |    CASE WHEN nt < 25 OR nt > 100000 THEN 1 ELSE 0 END AS v_len,
        |    CASE WHEN (nc - nsp) / nt < 3.0 OR (nc - nsp) / nt > 10.0 THEN 1 ELSE 0 END AS v_wordlen,
        |    CASE WHEN npu / nc >= 0.1 THEN 1 ELSE 0 END AS v_symbol,
        |    CASE WHEN nsw < 2 THEN 1 ELSE 0 END AS v_stop
        |  FROM s)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN v_len + v_wordlen + v_symbol + v_stop = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(v_len) AS BIGINT) AS v_len,
        |  CAST(sum(v_wordlen) AS BIGINT) AS v_wordlen,
        |  CAST(sum(v_symbol) AS BIGINT) AS v_symbol,
        |  CAST(sum(v_stop) AS BIGINT) AS v_stop,
        |  CAST(sum(CASE WHEN v_len + v_wordlen + v_symbol + v_stop = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    / count(*) AS keep_rate
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    "d48_token_entropy" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT source, token, count(*) AS c FROM t WHERE token <> '' GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
        |    sum(CAST(round(ln(c), 6) AS DECIMAL(18,6)) * c) AS sdec
        |  FROM c GROUP BY 1)
        |SELECT source, n_tokens, n_distinct,
        |  round(ln(n_tokens), 6) - CAST(sdec AS DOUBLE) / n_tokens AS entropy
        |FROM s ORDER BY source""".stripMargin,

    "d52_zipf_fit" ->
      // d48's count CTEs + integer ranks; x/y round6(ln) IN DECIMAL,
      // exact decimal regression sums, t29's fixed-op-order closed
      // forms in double — bit-identical before the 6dp rounding.
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT source, token, count(*) AS c FROM t WHERE token <> '' GROUP BY 1, 2),
        |r AS (SELECT source, c,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, token) AS rank
        |  FROM c),
        |p AS (SELECT source, c,
        |    CAST(round(ln(rank), 6) AS DECIMAL(18,6)) AS x6,
        |    CAST(round(ln(c), 6) AS DECIMAL(18,6)) AS y6
        |  FROM r),
        |g AS (SELECT source, count(*) AS n_distinct, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(sum(x6) AS DOUBLE) AS sx, CAST(sum(y6) AS DOUBLE) AS sy,
        |    CAST(sum(x6 * y6) AS DOUBLE) AS sxy, CAST(sum(x6 * x6) AS DOUBLE) AS sxx
        |  FROM p GROUP BY 1 HAVING count(*) >= 3),
        |f AS (SELECT *, (n_distinct * sxy - sx * sy) / (n_distinct * sxx - sx * sx) AS slope
        |  FROM g)
        |SELECT source, n_tokens, n_distinct,
        |  round(slope, 6) AS zipf_slope,
        |  round((sy - slope * sx) / n_distinct, 6) AS intercept
        |FROM f ORDER BY source""".stripMargin,

    "d03_minhash_lsh" ->
      // The LSH band config is effectively exact at J ≥ 0.7 (see the
      // query), so the oracle is the exact shingle-Jaccard pair set.
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id, c / (na.n + nb.n - c) AS jac
        |FROM inter JOIN sizes na ON a_id = na.doc_id JOIN sizes nb ON b_id = nb.doc_id
        |WHERE c / (na.n + nb.n - c) >= 0.7 ORDER BY a_id, b_id""".stripMargin,

    "d04_simhash" ->
      // Replicates the 60-bit md5-based SimHash bit-for-bit: H = first
      // 15 hex chars of md5(shingle) base-16, per-bit ±1 votes, fp bit
      // j set iff vote > 0; pairs with hamming(fp_a, fp_b) ≤ 3. The
      // Spark band join is pigeonhole-exact at hamming ≤ 3, so both
      // sides compute the identical pair set.
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)),
        |hx AS (SELECT doc_id, md5(s) AS h FROM sh),
        |hv AS (SELECT doc_id, h,
        |         CAST(sum(CAST(strpos('0123456789abcdef', substr(h, i, 1)) - 1 AS BIGINT) << ((15 - i) * 4)) AS BIGINT) AS hval
        |       FROM (SELECT doc_id, h, unnest(generate_series(1, 15)) AS i FROM hx)
        |       GROUP BY doc_id, h),
        |votes AS (SELECT doc_id, j, sum(CASE WHEN (hval >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |          FROM (SELECT doc_id, hval, unnest(generate_series(0, 59)) AS j FROM hv)
        |          GROUP BY doc_id, j),
        |fp AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS fp
        |       FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    "d02_shingle_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id, c / (na.n + nb.n - c) AS jac
        |FROM inter JOIN sizes na ON a_id = na.doc_id JOIN sizes nb ON b_id = nb.doc_id
        |WHERE c / (na.n + nb.n - c) >= 0.5 ORDER BY a_id, b_id""".stripMargin,

    "d49_dedup_sweep" ->
      // d02's exact-Jaccard CTE at the sweep floor, fanned against the
      // same literal threshold grid the Spark side explodes.
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sims AS (SELECT a_id, b_id, c / (na.n + nb.n - c) AS jac
        |  FROM inter JOIN sizes na ON a_id = na.doc_id JOIN sizes nb ON b_id = nb.doc_id
        |  WHERE c / (na.n + nb.n - c) >= 0.3),
        |sw AS (SELECT a_id, b_id, jac, g.threshold
        |  FROM sims CROSS JOIN (
        |    SELECT unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold) g
        |  WHERE jac >= threshold),
        |np AS (SELECT threshold, count(*) AS n_pairs FROM sw GROUP BY 1),
        |nd AS (SELECT threshold, count(*) AS n_docs FROM (
        |  SELECT DISTINCT threshold, d FROM (
        |    SELECT threshold, unnest([a_id, b_id]) AS d FROM sw)) GROUP BY 1)
        |SELECT np.threshold AS threshold, n_pairs, n_docs
        |FROM np JOIN nd ON np.threshold = nd.threshold
        |ORDER BY np.threshold""".stripMargin,

    "d05_lang_score" -> langScoreSql,

    "d06_quality" ->
      """WITH p AS (SELECT doc_id, text, ' ' || text || ' ' AS pt FROM documents),
        |c AS (SELECT doc_id, text,
        |  (length(pt) - length(replace(pt, ' the ', ''))) / 5 +
        |  (length(pt) - length(replace(pt, ' and ', ''))) / 5 +
        |  (length(pt) - length(replace(pt, ' with ', ''))) / 6 AS n_stopwords
        |FROM p)
        |SELECT doc_id, length(text) AS n_chars_m,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
        |  length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct,
        |  length(text) - length(replace(text, ' ', '')) AS n_spaces,
        |  n_stopwords,
        |  length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text) AS alpha_ratio,
        |  length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) / length(text) AS punct_ratio,
        |  n_stopwords / len(string_split(text, ' ')) AS stopword_ratio,
        |  (length(text) - (length(text) - length(replace(text, ' ', '')))) /
        |    len(string_split(text, ' ')) AS avg_token_len
        |FROM c ORDER BY doc_id""".stripMargin,

    "d07_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d08_fingerprint" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)),
        |fp AS (SELECT doc_id, min(md5(s)) AS fingerprint FROM sh GROUP BY 1)
        |SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS min_doc_id
        |FROM fp GROUP BY 1 ORDER BY 1""".stripMargin,

    "d11_winnow" ->
      // The sliding-window minima run as a FRAME window over unnested
      // grams, not a list-slice inside a lambda: hs[j:j+3] re-copies
      // the whole gram list per window in DuckDB — quadratic per doc,
      // >30 min on one 64Ki-capped zipf giant (r17); the window
      // formulation is linear and value-identical (0<n<4 keeps only
      // i=1, whose 4-row frame truncates to the whole list).
      s"""WITH hs AS (SELECT doc_id,
        |  CASE WHEN length(text) >= 8
        |    THEN list_transform(generate_series(1, least(length(text), ${graft.functions.TextFunctions.FingerprintMaxChars}) - 7), i -> md5(substr(text, i, 8)))
        |    ELSE [] END AS hs FROM documents),
        |g AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h,
        |             unnest(generate_series(1, len(hs))) AS i FROM hs),
        |w AS (SELECT doc_id, n, i, min(h) OVER (PARTITION BY doc_id ORDER BY i
        |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win FROM g),
        |agg AS (SELECT doc_id, count(DISTINCT win) AS n_fps,
        |         min(win) AS min_fp, max(win) AS max_fp
        |        FROM w WHERE i <= greatest(n - 3, 1) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(agg.n_fps, 0) AS n_fps,
        |  agg.min_fp, agg.max_fp
        |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    "d10_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS n_bpe_tokens,
        |  len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))) AS n_uniq_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d09_embed_dup" ->
      // Threshold on the ROUNDED sim, mirroring the Spark side — the
      // inclusion boundary is then identical across engines.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
        |ORDER BY a_id, b_id""".stripMargin,

    "d13_curation" ->
      s"""WITH p AS (SELECT doc_id, text, source, ' ' || text || ' ' AS pt FROM documents),
         |sc AS (SELECT doc_id, text, source,
         |  $langScoreExprsSql
         |FROM p),
         |lang AS (SELECT doc_id, text, source,
         |  $langCaseSql AS pred_lang
         |FROM sc),
         |enr AS (SELECT doc_id, source, pred_lang,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text) AS alpha_ratio,
         |  md5(text) AS h
         |FROM lang),
         |filt AS (SELECT * FROM enr
         |  WHERE pred_lang <> 'und' AND n_tokens >= 20 AND alpha_ratio >= 0.81),
         |kept AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM filt)
         |  WHERE rn = 1)
         |SELECT pred_lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens, min(doc_id) AS min_doc_id
         |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "d15_chunks" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, n, generate_series(1, n, 24) AS starts FROM t WHERE n > 0),
        |l AS (SELECT doc_id, n, starts,
        |  list_transform(starts, s -> least(32, n - s + 1)) AS lens FROM c)
        |SELECT doc_id, n AS n_tokens, len(starts) AS n_chunks,
        |  CAST(list_sum(lens) AS BIGINT) AS sum_chunk_tokens,
        |  lens[-1] AS last_chunk_tokens
        |FROM l ORDER BY doc_id""".stripMargin,

    "d16_pack" ->
      """WITH t AS (SELECT doc_id, source,
        |  CAST(floor(doc_id / 2000.0) AS BIGINT) AS shard,
        |  len(string_split(text, ' ')) AS n_tokens FROM documents),
        |r AS (SELECT doc_id, source, shard, n_tokens,
        |  coalesce(sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |FROM t),
        |b AS (SELECT doc_id, source, shard, n_tokens,
        |  CAST(floor(before / 4096.0) AS BIGINT) AS bin FROM r)
        |SELECT source, shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "d17_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, 'https?://[^ ]+')) AS n_urls,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS n_emails,
        |  len(regexp_extract_all(text, 'https?://[^ ]+')) = 0 AND
        |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) = 0 AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d14_split" ->
      """WITH x AS (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hh FROM documents),
        |hv AS (SELECT doc_id,
        |  CAST(sum(CAST(strpos('0123456789abcdef', substr(hh, i, 1)) - 1 AS BIGINT)
        |    << ((4 - i) * 4)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, hh, unnest(generate_series(1, 4)) AS i FROM x)
        |  GROUP BY doc_id),
        |s AS (SELECT doc_id,
        |  CASE WHEN h < 58982 THEN 'train' WHEN h < 62259 THEN 'valid' ELSE 'test' END AS split
        |FROM hv)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "d51_split_leakage" ->
      // d02's exact-Jaccard pair CTE ⋈ d14's split assignment — both
      // established twins, composed.
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sims AS (SELECT a_id, b_id
        |  FROM inter JOIN sizes na ON a_id = na.doc_id JOIN sizes nb ON b_id = nb.doc_id
        |  WHERE c / (na.n + nb.n - c) >= 0.5),
        |x AS (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hh FROM documents),
        |hv AS (SELECT doc_id,
        |  CAST(sum(CAST(strpos('0123456789abcdef', substr(hh, i, 1)) - 1 AS BIGINT)
        |    << ((4 - i) * 4)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, hh, unnest(generate_series(1, 4)) AS i FROM x)
        |  GROUP BY doc_id),
        |sp AS (SELECT doc_id,
        |  CASE WHEN h < 58982 THEN 'train' WHEN h < 62259 THEN 'valid' ELSE 'test' END AS split
        |FROM hv),
        |p AS (SELECT least(sa.split, sb.split) AS split_lo,
        |    greatest(sa.split, sb.split) AS split_hi
        |  FROM sims JOIN sp sa ON sims.a_id = sa.doc_id
        |            JOIN sp sb ON sims.b_id = sb.doc_id),
        |cells AS (SELECT split_lo, split_hi, count(*) AS n_pairs FROM p GROUP BY 1, 2)
        |SELECT split_lo, split_hi, n_pairs,
        |  CASE WHEN split_lo = split_hi THEN 'within_split' ELSE 'cross_split' END AS kind,
        |  n_pairs / CAST(sum(n_pairs) OVER () AS BIGINT) AS share
        |FROM cells ORDER BY 1, 2""".stripMargin,

    "d24_stratified_sample" ->
      """WITH x AS (SELECT doc_id, source,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hh FROM documents),
        |hv AS (SELECT doc_id, source,
        |  CAST(sum(CAST(strpos('0123456789abcdef', substr(hh, i, 1)) - 1 AS BIGINT)
        |    << ((4 - i) * 4)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, source, hh, unnest(generate_series(1, 4)) AS i FROM x)
        |  GROUP BY doc_id, source),
        |kept AS (SELECT doc_id, source FROM hv WHERE h <
        |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 16384
        |       WHEN source IN ('src5','src6','src7','src8','src9') THEN 32768
        |       ELSE 65536 END)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,

    "d25_span_dedup" ->
      // span text assembles via a 16-row sliding window over unnested
      // tokens, not t[i:i+15] on a per-span copy of the token list —
      // the (doc_id, t, i) unnest replicates the WHOLE list per span
      // row in DuckDB (a zipf giant: 212K spans × 1.7M elements —
      // OOM at any memory limit, r17); the window form is linear
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tk0 AS (SELECT doc_id, len(t) AS n, unnest(t) AS tok,
        |              unnest(generate_series(1, len(t))) AS k FROM toks),
        |wm AS (SELECT doc_id, n, k, string_agg(tok, ' ') OVER (
        |        PARTITION BY doc_id ORDER BY k
        |        ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS span FROM tk0),
        |sp AS (SELECT doc_id, md5(span) AS h FROM wm
        |       WHERE k % 8 = 1 AND k <= n - 15),
        |fl AS (SELECT h, min(doc_id) <> max(doc_id) AS dup FROM sp GROUP BY 1),
        |per AS (SELECT sp.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |         CAST(sum(CASE WHEN fl.dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
        |        FROM sp JOIN fl ON sp.h = fl.h GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(per.n_spans, 0) AS n_spans,
        |  COALESCE(per.n_dup_spans, 0) AS n_dup_spans,
        |  CASE WHEN per.n_spans IS NULL THEN NULL
        |       ELSE CAST(per.n_dup_spans AS DOUBLE) / CAST(per.n_spans AS DOUBLE)
        |  END AS dup_frac
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY 1""".stripMargin,

    "d31_span_scrub" ->
      // same linear span assembly as the d25 twin (r17): sliding
      // window over unnested tokens, never a per-span token-list copy
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tk0 AS (SELECT doc_id, len(t) AS n, unnest(t) AS tok,
        |              unnest(generate_series(1, len(t))) AS k FROM toks),
        |wm AS (SELECT doc_id, n, k, string_agg(tok, ' ') OVER (
        |        PARTITION BY doc_id ORDER BY k
        |        ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS span FROM tk0),
        |sp AS (SELECT doc_id, k AS i, md5(span) AS h FROM wm
        |       WHERE k % 8 = 1 AND k <= n - 15),
        |fl AS (SELECT h, min(doc_id) <> max(doc_id) AS dup, min(doc_id) AS kdoc
        |       FROM sp GROUP BY 1),
        |kp AS (SELECT sp.h, min(sp.i) AS kpos FROM sp
        |       JOIN fl ON sp.h = fl.h AND sp.doc_id = fl.kdoc
        |       WHERE fl.dup GROUP BY 1),
        |dr AS (SELECT sp.doc_id, sp.i FROM sp
        |       JOIN fl ON sp.h = fl.h JOIN kp ON sp.h = kp.h
        |       WHERE fl.dup AND NOT (sp.doc_id = fl.kdoc AND sp.i = kp.kpos)),
        |tk AS (SELECT doc_id, k, tok FROM tk0),
        |rem AS (SELECT DISTINCT tk.doc_id, tk.k FROM tk
        |        JOIN dr ON tk.doc_id = dr.doc_id AND tk.k BETWEEN dr.i AND dr.i + 15),
        |kept AS (SELECT tk.doc_id, tk.k, tk.tok FROM tk
        |         LEFT JOIN rem ON tk.doc_id = rem.doc_id AND tk.k = rem.k
        |         WHERE rem.k IS NULL),
        |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |        md5(string_agg(tok, ' ' ORDER BY k)) AS h
        |       FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(string_split(d.text, ' ')) - COALESCE(ka.n_kept, 0) AS BIGINT)
        |    AS n_removed,
        |  COALESCE(ka.h, md5('')) AS clean_hash
        |FROM documents d LEFT JOIN ka USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "d26_dedup_serve" ->
      // The frozen index's hash set == DISTINCT md5 of the even half
      // (dedupIncrementalStaged keeps one row per hash before the
      // append); NOT EXISTS, not NOT IN (NULL-safe by construction
      // but anti-join is the semantic the Spark side runs).
      """WITH idx AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |      UNION ALL
        |      SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 2 = 0),
        |f AS (SELECT doc_id, md5(text) AS h,
        |        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |      FROM b)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM f
        |WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM idx WHERE idx.h = f.h)
        |ORDER BY 1""".stripMargin,

    "d18_repetition" ->
  """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, t, len(t) AS n, len(list_distinct(t)) AS nu,
        |  CASE WHEN len(t) >= 2
        |    THEN list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
        |    ELSE [] END AS g
        |  FROM t WHERE len(t) > 0),
        |st AS (SELECT doc_id, n, nu, len(g) AS ng, len(list_distinct(g)) AS nug FROM s),
        |c AS (SELECT doc_id, unnest(t) AS tok FROM t),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM c GROUP BY 1, 2),
        |mx AS (SELECT doc_id, max(c) AS mc FROM tc GROUP BY 1)
        |SELECT st.doc_id, CAST(n AS INT) AS n_tokens, CAST(nu AS INT) AS n_uniq,
        |  CAST(ng AS INT) AS n_grams, CAST(nug AS INT) AS n_uniq_grams,
        |  mc AS top_token_cnt,
        |  round(nu / n, 6) AS uniq_token_ratio,
        |  CASE WHEN ng = 0 THEN 0.0 ELSE round(1.0 - nug / ng, 6) END AS dup_bigram_ratio,
        |  round(mc / n, 6) AS top_token_ratio
        |FROM st JOIN mx ON st.doc_id = mx.doc_id
        |ORDER BY st.doc_id""".stripMargin,

    "d19_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        |ev AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0)
        |SELECT ev.doc_id, count(*) AS n_shingles,
        |  CAST(count(bench.s) AS BIGINT) AS n_overlap,
        |  round(count(bench.s) / count(*), 6) AS overlap_ratio,
        |  round(count(bench.s) / count(*), 6) >= 0.5 AS contaminated
        |FROM ev LEFT JOIN bench ON ev.s = bench.s
        |GROUP BY ev.doc_id ORDER BY ev.doc_id""".stripMargin,

    "d22_dup_clusters" ->
      // Connected components of the d02 pair graph via a recursive
      // CTE (reach = transitive closure; label = min reachable id).
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id
        |  FROM inter JOIN sizes na ON a_id = na.doc_id JOIN sizes nb ON b_id = nb.doc_id
        |  WHERE c / (na.n + nb.n - c) >= 0.5),
        |e AS (SELECT a_id AS s, b_id AS d FROM pairs
        |      UNION SELECT b_id, a_id FROM pairs),
        |reach AS (SELECT s AS id, s AS r FROM e
        |          UNION
        |          SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s),
        |labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT cluster_id, count(*) AS n_members, max(id) AS max_member
        |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin,

    "d45_canonical_dedup" ->
      // d22's recursive-CTE components + an argmax keeper per
      // cluster (n_chars DESC, id ASC — exact integers, no float
      // comparison anywhere in the ranking).
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id
        |  FROM inter JOIN sizes na ON a_id = na.doc_id JOIN sizes nb ON b_id = nb.doc_id
        |  WHERE c / (na.n + nb.n - c) >= 0.5),
        |e AS (SELECT a_id AS s, b_id AS d FROM pairs
        |      UNION SELECT b_id, a_id FROM pairs),
        |reach AS (SELECT s AS id, s AS r FROM e
        |          UNION
        |          SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s),
        |labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |scored AS (SELECT labels.id, cluster_id, n_chars
        |  FROM labels JOIN documents ON labels.id = documents.doc_id),
        |k AS (SELECT cluster_id, id AS keeper_id, row_number() OVER (
        |    PARTITION BY cluster_id ORDER BY n_chars DESC, id) AS rn FROM scored)
        |SELECT scored.id AS doc_id, scored.cluster_id, k.keeper_id
        |FROM scored JOIN k ON scored.cluster_id = k.cluster_id AND k.rn = 1
        |WHERE scored.id <> k.keeper_id
        |ORDER BY 1""".stripMargin,

    "d23_embed_clusters" ->
      // Connected components of the d09 pair graph via the same
      // recursive-CTE shape as d22.
      """WITH RECURSIVE
        |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45),
        |e AS (SELECT a_id AS s, b_id AS d FROM pairs
        |      UNION SELECT b_id, a_id FROM pairs),
        |reach AS (SELECT s AS id, s AS r FROM e
        |          UNION
        |          SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s),
        |labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT cluster_id, count(*) AS n_members, max(id) AS max_member
        |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin,

    "d21_para_dedup" ->
      """WITH p AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
        |           FROM (SELECT doc_id, string_split(text, '. ') AS t FROM documents)),
        |h AS (SELECT doc_id, i - 1 AS pos, md5(t[i]) AS h FROM p),
        |r AS (SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM h)
        |SELECT doc_id, count(*) AS n_paras,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) / count(*), 6) AS removed_ratio
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d20_rarity" ->
      """WITH c AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT tok, count(*) AS cf FROM c GROUP BY 1),
        |j AS (SELECT c.doc_id, f.cf FROM c JOIN f ON c.tok = f.tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST(sum(CASE WHEN cf <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  round(sum(CASE WHEN cf <= 5 THEN 1 ELSE 0 END) / count(*), 6) AS rare_ratio,
        |  round(sum(cf) / count(*), 6) AS avg_corpus_freq
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d30_rarity_scored" ->
      // the stored LM is trained on the same corpus, so the scored
      // path's left join ≡ d20's inner join — one shared oracle shape
      """WITH c AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT tok, count(*) AS cf FROM c GROUP BY 1),
        |j AS (SELECT c.doc_id, f.cf FROM c JOIN f ON c.tok = f.tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST(sum(CASE WHEN cf <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  round(sum(CASE WHEN cf <= 5 THEN 1 ELSE 0 END) / count(*), 6) AS rare_ratio,
        |  round(sum(cf) / count(*), 6) AS avg_corpus_freq
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "s01_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q_id, vec_id AS n_id,
        |        list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim
        |      FROM q, embeddings WHERE vec_id <> q_id),
        |r AS (SELECT q_id, n_id,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
        |      FROM s)
        |SELECT q_id, rank, n_id FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,

    "s13_ann_filtered" ->
      // s01's oracle restricted to the allowed subset — the filtered
      // exact top-k the full-probe IVF search must reproduce.
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ae
        |      FROM embeddings WHERE label = 0),
        |s AS (SELECT q_id, vec_id AS n_id, list_cosine_similarity(qe, ae) AS sim
        |      FROM q, a WHERE vec_id <> q_id),
        |r AS (SELECT q_id, n_id,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
        |      FROM s)
        |SELECT q_id, rank, n_id FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,

    "s18_index_stats" ->
      // The same index-health board recomputed from the EXPORTED index
      // tables (see the s18 query: /tmp/graft_s18_export_v2/k=<n>_<sum>/,
      // rows tagged with the corpus count AND the vec_id sum so each
      // dataset's export is disjoint — same-sized different datasets
      // cannot collide). Both divisions are IEEE doubles of exact
      // BIGINTs — bit-identical to the Spark side. sum(n) casts to
      // BIGINT (DuckDB sums BIGINT into HUGEINT).
      """WITH nc AS (SELECT count(*) AS n, CAST(sum(vec_id) AS BIGINT) AS sv
        |            FROM embeddings),
        |cl AS (SELECT cell, count(*) AS n
        |       FROM read_parquet('/tmp/graft_s18_export_v2/*/cells/*.parquet')
        |       WHERE n_corpus = (SELECT n FROM nc)
        |         AND vec_sum = (SELECT sv FROM nc) GROUP BY cell),
        |agg AS (SELECT count(*) AS occ, CAST(sum(n) AS BIGINT) AS nv,
        |          max(n) AS mx FROM cl),
        |d AS (SELECT count(*) AS n_dec
        |      FROM read_parquet('/tmp/graft_s18_export_v2/*/centroids/*.parquet')
        |      WHERE n_corpus = (SELECT n FROM nc)
        |        AND vec_sum = (SELECT sv FROM nc)),
        |t AS (SELECT count(DISTINCT n_id) AS nt
        |      FROM read_parquet('/tmp/graft_s18_export_v2/*/tombstones/*.parquet')
        |      WHERE n_corpus = (SELECT n FROM nc)
        |        AND vec_sum = (SELECT sv FROM nc))
        |SELECT 'ivf' AS layout, d.n_dec AS n_cells_declared,
        |  agg.occ AS n_cells_occupied, d.n_dec - agg.occ AS n_cells_empty,
        |  agg.nv AS n_vectors, agg.mx AS max_cell,
        |  agg.nv / d.n_dec AS mean_cell,
        |  agg.mx * d.n_dec / agg.nv AS imbalance,
        |  t.nt AS n_tombstones
        |FROM agg, d, t""".stripMargin,

    "s06_rrf_fusion" ->
      // 1.0 literals are cast to DOUBLE: DuckDB types bare 1.0 as
      // DECIMAL, whose division would not be bit-identical to
      // Spark's double arithmetic.
      """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
        |c AS (SELECT d.doc_id, toks, CAST(embedding AS DOUBLE[]) AS v
        |      FROM d JOIN embeddings e ON d.doc_id = e.vec_id),
        |q AS (SELECT doc_id AS q_id, toks AS q_toks, v AS q_v FROM c WHERE doc_id < 5),
        |sc AS (SELECT q_id, c.doc_id AS d_id,
        |  len(list_intersect(c.toks, q_toks)) /
        |    (len(c.toks) + len(q_toks) - len(list_intersect(c.toks, q_toks))) AS jac,
        |  round(list_cosine_similarity(c.v, q_v), 6) AS cos6
        |  FROM c, q WHERE c.doc_id <> q_id),
        |r AS (SELECT q_id, d_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY jac DESC, d_id) AS rt,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos6 DESC, d_id) AS rv
        |  FROM sc),
        |f AS (SELECT q_id, d_id,
        |  round(CAST(1 AS DOUBLE) / (60 + rt) + CAST(1 AS DOUBLE) / (60 + rv), 6) AS rrf
        |  FROM r),
        |t AS (SELECT q_id, d_id, rrf,
        |  row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, d_id) AS rank FROM f)
        |SELECT q_id, rank, d_id, rrf FROM t WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    "s05_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        |q AS (SELECT vec_id, ma,
        |  list_transform(v, x -> CAST(round(x * 127.0 / ma) AS BIGINT)) AS qv
        |FROM m WHERE ma > 0)
        |SELECT vec_id, round(ma, 6) AS max_abs,
        |  CAST(list_sum(qv) AS BIGINT) AS sum_q,
        |  len(list_filter(qv, x -> abs(x) = 127)) AS n_clip
        |FROM q ORDER BY vec_id""".stripMargin,

    "s03_vector_norms" ->
      """WITH n AS (SELECT label,
        |  sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
        |    (a, b) -> a + b)) AS nm
        |FROM embeddings)
        |SELECT label AS grp, count(*) AS n_vecs,
        |  round(min(nm), 6) AS min_norm, round(max(nm), 6) AS max_norm,
        |  CAST(sum(CAST(round(nm, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_norm
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,

    "m01_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
        |  lower(substr(hex(encode(text)), 1, 16)) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d44_bpe_pairs" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |p AS (SELECT t[i] AS tok_a, t[i + 1] AS tok_b
        |  FROM (SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
        |        FROM toks))
        |SELECT tok_a, tok_b, count(*) AS n FROM p
        |WHERE tok_a <> '' AND tok_b <> ''
        |GROUP BY 1, 2 ORDER BY n DESC, tok_a, tok_b LIMIT 100""".stripMargin,

    "d28_vocab_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
        |FROM toks WHERE token <> ''
        |GROUP BY 1 ORDER BY n_occurrences DESC, token LIMIT 100""".stripMargin,

    "d29_doc_len_hist" ->
      """SELECT (n_chars // 500) * 500 AS bucket_lo, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "d41_source_overlap" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT source AS src, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM (SELECT source, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)),
        |sizes AS (SELECT src, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.src < b.src GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared, na.n AS n_a, nb.n AS n_b,
        |  n_shared / least(na.n, nb.n) AS containment
        |FROM inter JOIN sizes na ON src_a = na.src JOIN sizes nb ON src_b = nb.src
        |ORDER BY src_a, src_b""".stripMargin,

    "d43_source_dup_rate" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, source AS src, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM (SELECT doc_id, source, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)),
        |ph AS (SELECT src, s, count(*) AS c FROM sh GROUP BY 1, 2)
        |SELECT src, CAST(sum(c) AS BIGINT) AS n_shingles, count(*) AS n_distinct,
        |  1 - count(*) / CAST(sum(c) AS BIGINT) AS dup_rate
        |FROM ph GROUP BY src ORDER BY src""".stripMargin,

    "d42_shuffle_shards" ->
      """WITH x AS (SELECT doc_id, text,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS hh FROM documents),
        |hv AS (SELECT doc_id,
        |    CAST(sum(CAST(strpos('0123456789abcdef', substr(hh, i, 1)) - 1 AS BIGINT)
        |      << ((12 - i) * 4)) AS BIGINT) AS h,
        |    CAST(len(list_filter(string_split(min(text), ' '), t -> t <> '')) AS INT) AS n_tok
        |  FROM (SELECT doc_id, text, hh, unnest(generate_series(1, 12)) AS i FROM x)
        |  GROUP BY 1)
        |SELECT h % 8 AS shard, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens, min(h) AS min_h, max(h) AS max_h
        |FROM hv GROUP BY 1 ORDER BY 1""".stripMargin,

    "d32_source_mix" ->
      """WITH t AS (SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs, n_tokens,
        |  round(sqrt(n_tokens) / sum(sqrt(n_tokens)) OVER (), 6) AS mix_weight FROM t)
        |SELECT source, n_docs, n_tokens, mix_weight,
        |  round(mix_weight * 1000000 / n_tokens, 6) AS epochs_per_1m
        |FROM w ORDER BY source""".stripMargin,

    "d33_tfidf_topk" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |s AS (SELECT tf.doc_id, tf.token, tf.tf, df.df, (tf.tf * 1000000) // df.df AS score
        |      FROM tf JOIN df USING (token)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS term_rank
        |      FROM s)
        |SELECT doc_id, token, tf, df, score, term_rank
        |FROM r WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin,

    "d34_inverted_index" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |td AS (SELECT DISTINCT token, doc_id FROM toks WHERE token <> ''),
        |r AS (SELECT token, doc_id,
        |      row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn FROM td)
        |SELECT token, count(*) AS df,
        |  string_agg(CASE WHEN rn <= 20 THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY doc_id) AS postings
        |FROM r GROUP BY 1 ORDER BY token""".stripMargin,

    "d36_bool_retrieval" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |td AS (SELECT DISTINCT doc_id, token FROM toks
        |       WHERE token IN ('spark', 'vector', 'stream'))
        |SELECT doc_id, count(*) AS n_matched FROM td GROUP BY 1
        |HAVING count(*) >= 2
        |ORDER BY n_matched DESC, doc_id LIMIT 100""".stripMargin,

    "s14_hybrid_serve" ->
      // Text leg = d37's BM25 formula at topK 100; vector leg = s01's
      // exact cosine (full-probe IVF ≡ exact, self excluded); RRF
      // with COALESCE(…, 0) for single-leg docs. Ranks CAST AS INT
      // to match Spark's row_number/posexplode int ranks.
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tfq AS (SELECT doc_id, token, count(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
        |       FROM documents),
        |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |qtf AS (SELECT * FROM tfq WHERE token IN ('spark', 'vector', 'stream')),
        |idf AS (SELECT token, round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 6) AS idf
        |        FROM (SELECT token, count(*) AS df FROM qtf GROUP BY 1), st),
        |wq AS (SELECT qtf.doc_id,
        |    CAST(round(idf.idf * ((qtf.tf * 2.2) /
        |      (qtf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS DECIMAL(18,6)) AS w
        |  FROM qtf JOIN idf USING (token) JOIN dl USING (doc_id), st),
        |sc AS (SELECT doc_id, sum(w) AS score_dec FROM wq GROUP BY 1),
        |t100 AS (SELECT doc_id, score_dec FROM sc ORDER BY score_dec DESC, doc_id LIMIT 100),
        |tr AS (SELECT doc_id, row_number() OVER (ORDER BY score_dec DESC, doc_id) AS rt
        |       FROM t100),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |sv AS (SELECT vec_id AS doc_id,
        |         list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim
        |       FROM q, embeddings WHERE vec_id <> 0),
        |vr AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rv
        |       FROM sv QUALIFY rv <= 100),
        |f AS (SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id, tr.rt, vr.rv,
        |        round(COALESCE(1.0 / (60 + tr.rt), 0.0) +
        |              COALESCE(1.0 / (60 + vr.rv), 0.0), 6) AS rrf
        |      FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id),
        |r AS (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank FROM f)
        |SELECT CAST(rank AS INT) AS rank, doc_id, CAST(rt AS INT) AS rt,
        |  CAST(rv AS INT) AS rv, rrf
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "s15_hybrid_filtered" ->
      // s14's twin with the even-id filter on each leg's CANDIDATES
      // (t100 / sv stages); idf, avgdl and n_docs stay global — the
      // s13 contract: filter the candidates, never the index.
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tfq AS (SELECT doc_id, token, count(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
        |       FROM documents),
        |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |qtf AS (SELECT * FROM tfq WHERE token IN ('spark', 'vector', 'stream')),
        |idf AS (SELECT token, round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 6) AS idf
        |        FROM (SELECT token, count(*) AS df FROM qtf GROUP BY 1), st),
        |wq AS (SELECT qtf.doc_id,
        |    CAST(round(idf.idf * ((qtf.tf * 2.2) /
        |      (qtf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS DECIMAL(18,6)) AS w
        |  FROM qtf JOIN idf USING (token) JOIN dl USING (doc_id), st),
        |sc AS (SELECT doc_id, sum(w) AS score_dec FROM wq GROUP BY 1),
        |t100 AS (SELECT doc_id, score_dec FROM sc WHERE doc_id % 2 = 0
        |         ORDER BY score_dec DESC, doc_id LIMIT 100),
        |tr AS (SELECT doc_id, row_number() OVER (ORDER BY score_dec DESC, doc_id) AS rt
        |       FROM t100),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |sv AS (SELECT vec_id AS doc_id,
        |         list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim
        |       FROM q, embeddings WHERE vec_id <> 0 AND vec_id % 2 = 0),
        |vr AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rv
        |       FROM sv QUALIFY rv <= 100),
        |f AS (SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id, tr.rt, vr.rv,
        |        round(COALESCE(1.0 / (60 + tr.rt), 0.0) +
        |              COALESCE(1.0 / (60 + vr.rv), 0.0), 6) AS rrf
        |      FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id),
        |r AS (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank FROM f)
        |SELECT CAST(rank AS INT) AS rank, doc_id, CAST(rt AS INT) AS rt,
        |  CAST(rv AS INT) AS rv, rrf
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "d40_perplexity" ->
      """WITH arr AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS a FROM documents),
        |v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(a) AS t FROM arr)),
        |bg AS (SELECT doc_id, a[i] AS w1, a[i+1] AS w2
        |       FROM (SELECT doc_id, a, unnest(generate_series(1, len(a)-1)) AS i FROM arr)),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |lp AS (SELECT bg.doc_id,
        |    CAST(round(ln((c2.c2 + 1) / (c1.c1 + v.v)), 6) AS DECIMAL(18,6)) AS lp
        |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v),
        |sc AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS slp FROM lp GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  CAST(slp AS DOUBLE) / n_bigrams AS avg_logp,
        |  round(exp(-(CAST(slp AS DOUBLE) / n_bigrams)), 4) AS ppl
        |FROM sc ORDER BY doc_id""".stripMargin,

    "d39_source_classifier" ->
      """WITH t AS (SELECT doc_id, source AS actual, token FROM
        |    (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE token <> ''),
        |tf AS (SELECT doc_id, actual, token, count(*) AS tf FROM t GROUP BY 1, 2, 3),
        |ctot AS (SELECT actual AS clazz, count(*) AS total FROM t GROUP BY 1),
        |cnt AS (SELECT actual AS clazz, token, count(*) AS cnt FROM t GROUP BY 1, 2),
        |w AS (SELECT cnt.clazz, cnt.token, (cnt.cnt * 1000000000) // ctot.total AS w
        |      FROM cnt JOIN ctot USING (clazz)),
        |sc AS (SELECT tf.doc_id, tf.actual, w.clazz, sum(tf.tf * w.w) AS score
        |       FROM tf JOIN w USING (token) GROUP BY 1, 2, 3),
        |p AS (SELECT doc_id, actual, clazz AS predicted,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, clazz) AS rn
        |      FROM sc)
        |SELECT actual, predicted, count(*) AS n_docs
        |FROM p WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "d38_mix_sample" ->
      """WITH d AS (SELECT doc_id, source,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok FROM documents),
        |per AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
        |w AS (SELECT source, n_tokens,
        |    round(sqrt(n_tokens) / sum(sqrt(n_tokens)) OVER (), 6) AS mix_weight FROM per),
        |r AS (SELECT source,
        |    CAST(floor(least(1.0, mix_weight * 100000.0 / n_tokens) * 65536.0) AS BIGINT) AS thr
        |  FROM w),
        |x AS (SELECT doc_id, source, n_tok,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hh FROM d),
        |hv AS (SELECT doc_id, source, n_tok,
        |    CAST(sum(CAST(strpos('0123456789abcdef', substr(hh, i, 1)) - 1 AS BIGINT)
        |      << ((4 - i) * 4)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, source, n_tok, hh, unnest(generate_series(1, 4)) AS i FROM x)
        |  GROUP BY doc_id, source, n_tok, hh)
        |SELECT r.source, r.thr, count(*) AS n_kept,
        |  CAST(sum(hv.n_tok) AS BIGINT) AS kept_tokens
        |FROM hv JOIN r ON hv.source = r.source WHERE hv.h < r.thr
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "d37_bm25_topk" ->
      // Mirrors TextIndex.bm25 op-for-op: idf rounded 6-dec (the one
      // ln), per-token terms rounded 6-dec and summed as DECIMAL,
      // ranking on the exact decimal score. avgdl = exact Σdl / N in
      // one double division on both engines.
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
        |       FROM documents),
        |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |qtf AS (SELECT * FROM tf WHERE token IN ('spark', 'vector', 'stream')),
        |idf AS (SELECT token, round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)), 6) AS idf
        |        FROM (SELECT token, count(*) AS df FROM qtf GROUP BY 1), st),
        |w AS (SELECT qtf.doc_id,
        |    CAST(round(idf.idf * ((qtf.tf * 2.2) /
        |      (qtf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS DECIMAL(18,6)) AS w
        |  FROM qtf JOIN idf USING (token) JOIN dl USING (doc_id), st),
        |sc AS (SELECT doc_id, count(*) AS n_terms, sum(w) AS score_dec FROM w GROUP BY 1)
        |SELECT doc_id, n_terms, CAST(score_dec AS DOUBLE) AS score
        |FROM sc ORDER BY score_dec DESC, doc_id LIMIT 100""".stripMargin,

    "d35_pii_scrub" -> {
      // Generated from piiPatterns — the Spark plan and this SQL share
      // one pattern table, so the two sides cannot drift.
      val counts = piiPatterns.map { case (label, re, _) =>
        s"len(regexp_extract_all(props, '$re')) AS n_$label"
      }.mkString(",\n        |  ")
      val scrub = piiPatterns.foldLeft("props") { case (e, (_, re, repl)) =>
        s"regexp_replace($e, '$re', '$repl', 'g')"
      }
      s"""SELECT event_id, $scrub AS scrubbed,
         |  $counts
         |FROM events ORDER BY event_id""".stripMargin
    }
  )
}
