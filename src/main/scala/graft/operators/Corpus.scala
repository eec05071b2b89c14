package graft.operators

import graft.{Q, Tables}
import graft.functions.topKRows
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs between dedup
  * and tokenization: keep-best selection inside exact-duplicate groups,
  * token-budget shard packing, the source/language mixture report a data
  * recipe is specified against, and SCD2 history assembly for dimension
  * snapshots.
  *
  * No reference equivalent (zonbloop/flink-rag has no batch curation
  * surface); these extend the SURVEY §2.2 [EXT] LLM-pipeline story.
  *
  * Scale shapes:
  *  - keep_best: one hash shuffle on md5(text) — the same partitioning
  *    exact dedup already uses; the window adds no extra exchange.
  *  - shard packing: running sums are PER SOURCE (partitioned window),
  *    never a global single-partition sort — each source packs
  *    independently, which is how real corpora shard anyway.
  *  - mixture report: full-corpus scan collapses to |lang|×|source| rows
  *    with map-side partials before the tiny percent-of-total window.
  *  - SCD2: one shuffle on the entity key; lead() runs inside each
  *    partition.
  */
object Corpus {

  /** SCD2 interval build over (o_custkey, o_orderkey, o_orderdate):
    * validity [valid_from, valid_to) as ISO strings + is_current. Shared
    * by the batch history query and the streaming incremental upsert
    * (`stream_scd2_upsert`), which rebuilds ONLY touched customers with
    * this same function — incremental == batch by construction.
    */
  private[graft] def scd2Intervals(base: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    base.select(col("o_custkey"), col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
      date_format(lead(col("o_orderdate"), 1).over(w), "yyyy-MM-dd")
        .as("valid_to"),
      lead(col("o_orderdate"), 1).over(w).isNull.as("is_current"))
  }

  /** Frame-parametric decontamination core (re-exported as
    * `graft.api.Graft.contaminationReport`): per `corpus` doc, the
    * fraction of its word n-grams found in ANY `eval` doc's grams, plus
    * the >= `flagAt` flag. Both frames need (doc_id, text). The eval gram
    * set broadcasts (benchmarks are small by nature); the corpus side is
    * scan + map-side explode + one doc_id-keyed aggregate.
    */
  private[graft] def contaminationOf(corpus: org.apache.spark.sql.DataFrame,
      eval: org.apache.spark.sql.DataFrame, n: Int, flagAt: Double)
      : org.apache.spark.sql.DataFrame = {
    def grams(df: org.apache.spark.sql.DataFrame) = df
      .where(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"),
        explode(graft.functions.word_ngrams(col("text"), n)).as("gram"))
    val ev = grams(eval).select(col("gram")).distinct()
      .withColumn("hit", lit(1))
    grams(corpus)
      .join(broadcast(ev), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_grams")).as("hit_frac"),
        (col("n_hit").cast("double") / col("n_grams") >= flagAt)
          .as("contaminated"))
  }

  /** Frame-parametric Gopher-style rule filter (re-exported as
    * `graft.api.Graft.qualityRules`): (doc_id, per-rule booleans, keep).
    * One codegen'd scan-side projection, zero shuffle.
    */
  private[graft] def qualityRulesOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tok"),
        (length(replace(col("text"), lit(" "), lit(""))).cast("double")
          / size(split(col("text"), " "))).as("mean_len"),
        (size(filter(split(col("text"), " "),
          x => x.isInCollection(Text.Stopwords))).cast("double")
          / size(split(col("text"), " "))).as("stop_frac"),
        when(size(split(col("text"), " ")) < 2, lit(0.0))
          .otherwise(lit(1.0)
            - size(array_distinct(graft.functions.word_ngrams(col("text"), 2)))
              .cast("double")
            / size(graft.functions.word_ngrams(col("text"), 2)))
          .as("dup_frac"))
      .select(col("doc_id"),
        col("n_tok").between(20, 1000).as("r_len"),
        (col("mean_len") >= 2 && col("mean_len") <= 8).as("r_word_len"),
        (col("stop_frac") >= 0.02).as("r_stop"),
        (col("dup_frac") <= 0.10).as("r_rep"))
      .select(col("doc_id"), col("r_len"), col("r_word_len"),
        col("r_stop"), col("r_rep"),
        (col("r_len") && col("r_word_len") && col("r_stop") && col("r_rep"))
          .as("keep"))

  /** Frame-parametric mixture rebalance (re-exported as
    * `graft.api.Graft.rebalanceMix`): the rows of `df` kept after
    * downsampling every `groupCol` group to the smallest group's count
    * with a deterministic md5 coin on `idCol`; (docs, rate) of the row's
    * group ride along. Row-local keep decision — `df` never shuffles.
    */
  private[graft] def rebalanceBy(df: org.apache.spark.sql.DataFrame,
      groupCol: String, idCol: String): org.apache.spark.sql.DataFrame = {
    val rates = df.groupBy(groupCol).agg(count(lit(1)).as("docs"))
      .withColumn("rate",
        min(col("docs")).over(Window.partitionBy()).cast("double")
          / col("docs"))
    // 32-bit coin resolution: a 16-bit threshold floors to zero for any
    // group > 65536x the smallest (the dominant group would vanish); 8
    // hex digits push that cliff past 4e9x skew, far beyond real corpora.
    df.join(broadcast(rates), groupCol)
      .where(md5KeepCoin(idCol))
  }

  /** The deterministic md5 keep-coin shared by the mixture operators:
    * keep a row iff the first 8 hex digits of md5(id) fall below the
    * row's `rate`-derived threshold (rate scaled to 32 bits). Row-local,
    * identical in Spark and DuckDB; `rate >= 1.0` short-circuits so the
    * full-keep group never exercises the (9-hex-digit) threshold edge.
    */
  private def md5KeepCoin(idCol: String): org.apache.spark.sql.Column =
    col("rate") >= 1.0 ||
      substring(md5(col(idCol).cast("string")), 1, 8) <
        lpad(lower(hex(floor(col("rate") * 4294967296L).cast("long"))),
          8, "0")

  /** Frame-parametric TEMPERATURE mixture resampling (re-exported as
    * `graft.api.Graft.temperatureMix`) — the actual LLM data-recipe
    * operator next to [[rebalanceBy]]'s uniform equalization: group l
    * with n_l docs keeps docs at rate ∝ n_l^(1/T - 1), normalized so the
    * SMALLEST group keeps everything — i.e. rate_l = (n_min/n_l)^(1-1/T).
    * T=1 keeps the natural mix, T→∞ approaches uniform equalization.
    *
    * T=2 (the oracled inventory setting) makes the rate
    * sqrt(n_min/n_l): one exact-rational double division + one
    * correctly-rounded IEEE sqrt — bit-identical cross-engine with no
    * libm pow in sight (pow is NOT correctly rounded and may differ in
    * the last ulp between engines; the kernel special-cases exponent
    * 0.5 to sqrt for exactly this reason). Keep decision is the same
    * row-local md5 coin as [[rebalanceBy]]: the corpus never shuffles —
    * scan → broadcast join → filter, linear to 100 TB, stable under
    * resampling.
    */
  private[graft] def temperatureMixOf(df: org.apache.spark.sql.DataFrame,
      groupCol: String, idCol: String,
      temperature: Double): org.apache.spark.sql.DataFrame = {
    require(temperature >= 1.0, "temperatureMix: T < 1 would upsample")
    val e = 1.0 - 1.0 / temperature
    val ratio = min(col("docs")).over(Window.partitionBy())
      .cast("double") / col("docs")
    val rates = df.groupBy(groupCol).agg(count(lit(1)).as("docs"))
      .withColumn("rate",
        if (e == 0.5) sqrt(ratio) else pow(ratio, lit(e)))
    df.join(broadcast(rates), groupCol)
      .where(md5KeepCoin(idCol))
  }

  /** Frame-parametric linearized TF-IDF top terms (re-exported as
    * `graft.api.Graft.tfidfTopTerms`): `docs` needs (doc_id LONG,
    * `groupCol` STRING, text STRING); returns the top-`k` terms per
    * group scored tf·(N/df) — one int64 product + ONE double division,
    * so scores are bit-identical on any engine (log-IDF's libm ln can
    * differ in the last ulp and flip near-tie ranks). Rank ties break on
    * the term itself. The top-k only ever sees (group × vocab)
    * aggregated rows, never raw tokens.
    */
  private[graft] def tfidfTopTermsOf(docs: org.apache.spark.sql.DataFrame,
      groupCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col("doc_id"), col(groupCol),
        explode(split(col("text"), " ")).as("term"))
      .where(col("term") =!= "")
    val tf = toks.groupBy(col(groupCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
      .select(col("term").as("dterm"), col("df"))
    val nd = toks.select(countDistinct(col("doc_id")).as("n"))
    val scored = tf
      .join(broadcast(dfreq), col("term") === col("dterm")).drop("dterm")
      .crossJoin(broadcast(nd))
      .select(col(groupCol), col("term"), col("tf"), col("df"),
        ((col("tf") * col("n")).cast("double") / col("df")).as("score"))
    topKRows(scored, Seq(groupCol), "score", "term", k, "rk").drop("rk")
  }

  val defs: Seq[Q] = Seq(

    // Exact-dup groups keyed by md5(text) (the one hash both engines
    // compute identically); keep the longest doc per group, doc_id as the
    // deterministic tie-break. This is dedup as a pipeline actually ships
    // it: pick the best representative, don't just pick *a* row.
    Q("dedup_keep_best",
      """SELECT doc_id, grp_size, rn = 1 AS keep FROM (
        |  SELECT doc_id,
        |    count(*) OVER (PARTITION BY md5(text)) AS grp_size,
        |    row_number() OVER (PARTITION BY md5(text)
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val grp = Window.partitionBy(md5(col("text")))
      val rank = grp.orderBy(col("n_chars").desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          count(lit(1)).over(grp).as("grp_size"),
          row_number().over(rank).as("rn"))
        .select(col("doc_id"), col("grp_size"),
          (col("rn") === 1).as("keep"))
        .orderBy("doc_id")
    },

    // DEDUP IMPACT report — the governance readout a curation pipeline
    // publishes with every dedup pass: per source, how many docs and
    // TOKENS does keep-first exact dedup remove (a source that is 40%
    // duplicates tells a different story than one at 2%, and token
    // counts — not doc counts — are what the training-budget planner
    // consumes). Keep = min(doc_id) per md5(text) group via ONE
    // content-keyed window (no join-back — the dedup_exact discipline),
    // then one source-keyed combiner aggregate; everything integer
    // until the two per-source ratio divisions.
    Q("corpus_dedup_impact",
      """WITH k AS (
        |  SELECT source, doc_id,
        |    len(string_split(text, ' ')) AS tokens,
        |    min(doc_id) OVER (PARTITION BY md5(text)) AS keep
        |  FROM documents)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id = keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(tokens) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN doc_id = keep THEN tokens ELSE 0 END)
        |    AS BIGINT) AS tokens_kept,
        |  CAST(count(*) - sum(CASE WHEN doc_id = keep THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*) AS doc_drop_rate,
        |  CAST(sum(tokens) - sum(CASE WHEN doc_id = keep THEN tokens
        |      ELSE 0 END) AS DOUBLE) / sum(tokens) AS token_drop_rate
        |FROM k GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      val keepW = Window.partitionBy(md5(col("text")))
      val k = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).as("tokens"),
          min(col("doc_id")).over(keepW).as("keep"))
      val kept = when(col("doc_id") === col("keep"), lit(1)).otherwise(lit(0))
      val keptTok =
        when(col("doc_id") === col("keep"), col("tokens")).otherwise(lit(0))
      k.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(kept).cast("long").as("n_kept"),
          sum(col("tokens")).cast("long").as("tokens_total"),
          sum(keptTok).cast("long").as("tokens_kept"),
          ((count(lit(1)) - sum(kept)).cast("double") / count(lit(1)))
            .as("doc_drop_rate"),
          ((sum(col("tokens")) - sum(keptTok)).cast("double")
            / sum(col("tokens"))).as("token_drop_rate"))
        .orderBy("source")
    },

    // Token-budget shard packing: greedy contiguous fill of 4096-token
    // shards per source (whitespace tokens; the doc that straddles a
    // boundary starts the next shard's count but stays whole). Running
    // sums are per-source windows — no global order, no single-partition
    // bottleneck.
    Q("pack_token_shards",
      """SELECT source, doc_id, tokens,
        |  (cum - tokens) // 4096 AS shard
        |FROM (
        |  SELECT source, doc_id,
        |    len(string_split(text, ' ')) AS tokens,
        |    CAST(sum(len(string_split(text, ' '))) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM documents)
        |ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
        .withColumn("cum", sum(col("tokens")).over(w))
        .select(col("source"), col("doc_id"), col("tokens"),
          expr("(cum - tokens) div 4096").as("shard"))
        .orderBy("source", "doc_id")
    },

    // Source-mix DIVERSITY per language — Simpson concentration
    // λ = Σn_s²/N² and its inverse (effective source count), the number
    // a pretraining-mix owner actually tracks: 40 sources with an
    // effective count of 2 is a concentration risk mix_report's share
    // table shows only implicitly. Squares accumulate in DECIMAL(38,0)
    // (n² passes int64 at corpus scale; DuckDB HUGEINT twin); λ and
    // 1/λ are each ONE double expression from exact accumulators. One
    // (lang, source) combiner shuffle, then a lang-level rollup.
    Q("corpus_source_diversity",
      """WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1, 2),
        |l AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
        |        CAST(sum(n) AS BIGINT) AS n_docs,
        |        sum(CAST(n AS HUGEINT) * n) AS sq
        |      FROM g GROUP BY 1)
        |SELECT lang, n_sources, n_docs,
        |  CAST(sq AS DOUBLE)
        |    / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)) AS simpson,
        |  (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
        |    / CAST(sq AS DOUBLE) AS effective_sources
        |FROM l ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sources"), sum("n").as("n_docs"),
          sum(col("n").cast("decimal(38,0)") * col("n")).as("sq"))
        .select(col("lang"), col("n_sources"), col("n_docs"),
          (col("sq").cast("double")
            / (col("n_docs").cast("double") * col("n_docs").cast("double")))
            .as("simpson"),
          ((col("n_docs").cast("double") * col("n_docs").cast("double"))
            / col("sq").cast("double")).as("effective_sources"))
        .orderBy("lang")
    },

    // Data-mixture report: the (lang × source) doc/token counts plus each
    // cell's share of total tokens — the artifact a pretraining data
    // recipe is specified against and audited with.
    Q("mix_report_sources",
      """SELECT lang, source, docs, tokens,
        |  CAST(tokens AS DOUBLE)
        |        / CAST(CAST(sum(tokens) OVER () AS BIGINT) AS DOUBLE)
        |        * 100 AS pct_tokens
        |FROM (
        |  SELECT lang, source, count(*) AS docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY lang, source)
        |ORDER BY lang, source""".stripMargin) { (s, d) =>
      val cells = Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("tokens"))
      // percent-of-total over the aggregated cells (|lang|×|source| rows),
      // never over the raw corpus
      cells.withColumn("pct_tokens",
          col("tokens").cast("double")
            / sum(col("tokens")).over(Window.partitionBy()).cast("double")
            * 100)
        .orderBy("lang", "source")
    },

    // Benchmark decontamination: flag corpus docs whose 3-gram overlap
    // with a held-out eval set (doc_id % 97 = 0 — stand-in for a public
    // benchmark) exceeds 5%. The eval gram set is SMALL BY NATURE
    // (benchmarks are thousands of items, the corpus is billions), so it
    // broadcasts; the corpus side stays a scan + map-side explode + one
    // doc_id-keyed aggregate — linear to 100 TB, no corpus-side shuffle
    // on gram.
    Q("contamination_ngram",
      s"""WITH g AS (
         |  SELECT doc_id, unnest(${Text.oracleGram(3)}) AS gram
         |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
         |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
         |SELECT doc_id, count(*) AS n_grams,
         |  count(ev.gram) AS n_hit,
         |  CAST(count(ev.gram) AS DOUBLE) / count(*) AS hit_frac,
         |  CAST(count(ev.gram) AS DOUBLE) / count(*) >= 0.05 AS contaminated
         |FROM g LEFT JOIN ev USING (gram)
         |WHERE g.doc_id % 97 <> 0
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      contaminationOf(docs.where(col("doc_id") % 97 =!= 0),
          docs.where(col("doc_id") % 97 === 0), n = 3, flagAt = 0.05)
        .orderBy("doc_id")
    },

    // Gopher-style rule filter: each doc gets per-rule booleans and the
    // conjunction (`keep`) — the explainable shape a curation pipeline
    // ships (you audit WHICH rule dropped a doc, not just that it
    // dropped). All rules are scan-side row-local expressions: zero
    // shuffle, linear to 100 TB, and Catalyst collapses the whole thing
    // into one codegen'd projection.
    Q("quality_filter_rules",
      s"""SELECT doc_id, r_len, r_word_len, r_stop, r_rep,
         |  r_len AND r_word_len AND r_stop AND r_rep AS keep
         |FROM (
         |  SELECT doc_id,
         |    n_tok BETWEEN 20 AND 1000 AS r_len,
         |    mean_len >= 2 AND mean_len <= 8 AS r_word_len,
         |    stop_frac >= 0.02 AS r_stop,
         |    dup_frac <= 0.10 AS r_rep
         |  FROM (
         |    SELECT doc_id,
         |      len(string_split(text, ' ')) AS n_tok,
         |      CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |        / len(string_split(text, ' ')) AS mean_len,
         |      CAST(len(list_filter(string_split(text, ' '),
         |             x -> x IN (${Text.stopList}))) AS DOUBLE)
         |        / len(string_split(text, ' ')) AS stop_frac,
         |      CASE WHEN len(string_split(text, ' ')) < 2 THEN CAST(0 AS DOUBLE)
         |           ELSE 1.0 - CAST(len(list_distinct(${Text.oracleGram(2)}))
         |                           AS DOUBLE) / len(${Text.oracleGram(2)}) END
         |        AS dup_frac
         |    FROM documents))
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      qualityRulesOf(Tables.documents(s, d)).orderBy("doc_id")
    },

    // Quality-threshold PRUNE CURVE — the tuning report behind every
    // quality filter: for each candidate threshold t (score deciles),
    // how many docs and tokens survive "keep quality >= t", as counts
    // and fractions. One scan scores docs row-locally (the same
    // text_quality_score formula — an identical double operand chain in
    // both engines, so decile bucketing agrees bit-for-bit), one
    // combiner shuffle reduces to <= 10 decile rows, and the cumulative
    // kept-counts window runs over those 10 rows, never the corpus.
    // Fractions are single double divisions of exact BIGINTs.
    Q("corpus_quality_prune_curve",
      """WITH q AS (
        |  SELECT len(string_split(text, ' ')) AS toks,
        |    least(1.0, len(string_split(text, ' ')) / 100.0)
        |      * (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
        |               AS DOUBLE) / length(text)) AS quality
        |  FROM documents),
        |b AS (
        |  SELECT least(CAST(floor(quality * 10) AS BIGINT), 9) AS bucket,
        |    count(*) AS docs, CAST(sum(toks) AS BIGINT) AS toks
        |  FROM q GROUP BY 1),
        |c AS (
        |  SELECT bucket,
        |    CAST(sum(docs) OVER (ORDER BY bucket DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS docs_kept,
        |    CAST(sum(toks) OVER (ORDER BY bucket DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS tokens_kept
        |  FROM b),
        |t AS (SELECT CAST(sum(docs) AS BIGINT) AS td,
        |             CAST(sum(toks) AS BIGINT) AS tt FROM b)
        |SELECT bucket / 10.0 AS threshold, docs_kept, tokens_kept,
        |  CAST(docs_kept AS DOUBLE) / td AS doc_frac,
        |  CAST(tokens_kept AS DOUBLE) / tt AS token_frac
        |FROM c, t ORDER BY threshold""".stripMargin) { (s, d) =>
      val q = Tables.documents(s, d).select(
        size(split(col("text"), " ")).as("toks"),
        (least(lit(1.0), size(split(col("text"), " ")) / 100.0)
          * (lit(1.0) - length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
              .cast("double") / length(col("text")))).as("quality"))
      val b = q
        .select(least(floor(col("quality") * 10).cast("long"), lit(9L))
          .as("bucket"), col("toks"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("docs"), sum(col("toks")).as("toks"))
      val w = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val t = b.agg(sum(col("docs")).as("td"), sum(col("toks")).as("tt"))
      b.select(col("bucket"),
          sum(col("docs")).over(w).as("docs_kept"),
          sum(col("toks")).over(w).as("tokens_kept"))
        .crossJoin(broadcast(t))
        .select((col("bucket") / 10.0).as("threshold"),
          col("docs_kept"), col("tokens_kept"),
          (col("docs_kept").cast("double") / col("td")).as("doc_frac"),
          (col("tokens_kept").cast("double") / col("tt")).as("token_frac"))
        .orderBy("threshold")
    },

    // Language-mixture rebalance: downsample every language to the
    // smallest language's doc count via a deterministic md5 coin — the
    // "uniform mix" step of a pretraining data recipe. Per-lang rates come
    // from one tiny aggregate (broadcast back); the keep decision is
    // row-local (lexicographic compare of an md5 prefix against the
    // rate-derived hex threshold, identical in both engines), so the
    // corpus-side plan is scan → broadcast join → filter: no shuffle of
    // the corpus, stable under resampling (same doc always gets the same
    // coin), linear to 100 TB.
    Q("corpus_mix_rebalance",
      """WITH rates AS (
        |  SELECT lang, count(*) AS docs,
        |    CAST(min(count(*)) OVER () AS DOUBLE) / count(*) AS rate
        |  FROM documents GROUP BY lang)
        |SELECT r.lang AS lang, r.docs, r.rate AS rate,
        |  count(*) AS kept
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE r.rate >= 1.0
        |   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |      < lpad(lower(to_hex(CAST(floor(r.rate * 4294967296) AS BIGINT))),
        |             8, '0')
        |GROUP BY r.lang, r.docs, r.rate
        |ORDER BY lang""".stripMargin) { (s, d) =>
      rebalanceBy(Tables.documents(s, d), "lang", "doc_id")
        .groupBy(col("lang"), col("docs"), col("rate"))
        .agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    },

    // Temperature-based mixture resampling at T=2 — the LLM data-recipe
    // move (multilingual pretraining mixes are temperature-sampled, not
    // equalized): every language keeps docs at rate sqrt(n_min/n_l), so
    // big languages are tempered, not truncated to the smallest. The
    // rate is one exact-rational division + one correctly-rounded IEEE
    // sqrt (bit-identical cross-engine — deliberately NOT libm pow);
    // the keep decision is the same row-local md5 coin as
    // corpus_mix_rebalance, so the corpus-side plan is still scan →
    // broadcast join → filter with no corpus shuffle.
    Q("corpus_mix_temperature",
      """WITH rates AS (
        |  SELECT lang, count(*) AS docs,
        |    sqrt(CAST(min(count(*)) OVER () AS DOUBLE) / count(*)) AS rate
        |  FROM documents GROUP BY lang)
        |SELECT r.lang AS lang, r.docs, r.rate AS rate,
        |  count(*) AS kept
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE r.rate >= 1.0
        |   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |      < lpad(lower(to_hex(CAST(floor(r.rate * 4294967296) AS BIGINT))),
        |             8, '0')
        |GROUP BY r.lang, r.docs, r.rate
        |ORDER BY lang""".stripMargin) { (s, d) =>
      temperatureMixOf(Tables.documents(s, d), "lang", "doc_id",
          temperature = 2.0)
        .groupBy(col("lang"), col("docs"), col("rate"))
        .agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    },

    // SCD2 history build: each customer's order stream becomes validity
    // intervals [valid_from, valid_to) with an is_current flag — the
    // slowly-changing-dimension shape every warehouse load job produces.
    // One shuffle on the entity key; lead() is per-partition.
    Q("scd2_orders_history",
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |  strftime(lead(o_orderdate) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |    '%Y-%m-%d') AS valid_to,
        |  lead(o_orderdate) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |    IS NULL AS is_current
        |FROM orders WHERE o_custkey < 500
        |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin) { (s, d) =>
      scd2Intervals(Tables.orders(s, d).where(col("o_custkey") < 500))
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    },

    // Per-source characteristic terms by linearized TF-IDF. The score is
    // tf·(N/df) computed as one int64 product and ONE double division —
    // bit-identical cross-engine, unlike log-IDF (each engine's libm ln
    // can differ in the last ulp and flip a rank at a near-tie). Shape at
    // 100 TB: token explode → (source, term) combiner-friendly count, a
    // term-keyed df count joined on term (sort-merge at vocab scale;
    // broadcast here), corpus N one broadcast scalar, and the top-5 rank
    // runs per-source over the already-aggregated term frame — windows
    // only ever see (source × vocab) rows, never raw tokens.
    Q("corpus_tfidf_topterms",
      """WITH toks AS (
        |  SELECT doc_id, source, t.term AS term
        |  FROM documents, unnest(string_split(text, ' ')) AS t(term)
        |  WHERE t.term <> ''),
        |tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM toks),
        |ranked AS (
        |  SELECT tf.source, tf.term, tf.tf, dfreq.df,
        |    CAST(tf.tf * nd.n AS DOUBLE) / dfreq.df AS score,
        |    row_number() OVER (PARTITION BY tf.source
        |      ORDER BY CAST(tf.tf * nd.n AS DOUBLE) / dfreq.df DESC,
        |        tf.term) AS rk
        |  FROM tf, dfreq, nd WHERE tf.term = dfreq.term)
        |SELECT source, term, tf, df, score
        |FROM ranked WHERE rk <= 5
        |ORDER BY source, score DESC, term""".stripMargin) { (s, d) =>
      tfidfTopTermsOf(Tables.documents(s, d), "source", 5)
        .select(col("source"), col("term"), col("tf"), col("df"),
          col("score"))
        .orderBy(col("source"), col("score").desc, col("term"))
    },

    // Per-language document-length quartiles — the length-distribution
    // profile that picks chunk sizes and length-filter thresholds before
    // a corpus run. Quartiles of INTEGER lengths at exact binary-
    // fraction ranks (0.25/0.5/0.75) are exact rationals in double under
    // BOTH engines' interpolation formulas ((1-d)·lo + d·hi vs
    // lo + d·(hi-lo) — equal when every product is exact), so no
    // rounding and no half-boundary trap. One combiner-friendly shuffle
    // keyed by lang; the sort-based exact percentile is per-group state,
    // never a global sort.
    // Duplicate-cluster size histogram — the dedup AUDIT that runs before
    // committing to a keep/drop pass: how much of the corpus is exact-dup,
    // and in what cluster sizes (2 doubled pages vs one 10k-copy boiler-
    // plate imply different fixes). Two combiner-friendly shuffles (hash →
    // cluster size → histogram), all integers; the content hash is the
    // same md5 the dedup_exact family keys on.
    Q("dedup_cluster_histogram",
      """WITH cl AS (
        |  SELECT md5(text) AS h, count(*) AS sz
        |  FROM documents GROUP BY 1)
        |SELECT sz AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sz * count(*) AS BIGINT) AS n_docs
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          (col("cluster_size") * count(lit(1))).as("n_docs"))
        .orderBy("cluster_size")
    },

    Q("corpus_length_quartiles",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.50) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("percentile(n_chars, 0.25D)").as("p25"),
          expr("percentile(n_chars, 0.50D)").as("p50"),
          expr("percentile(n_chars, 0.75D)").as("p75"))
        .orderBy("lang")
    },

    // Paragraph-level exact dedup WITH reassembly — the C4/RefinedWeb step
    // that removes a repeated span from every document but the first while
    // keeping the rest of each document intact (document-level dedup can't
    // do this: boilerplate repeats across otherwise-unique docs).
    // "Paragraphs" here are the deterministic 20-word segmentation of the
    // fixture text (it has no newlines); first occurrence = lowest
    // (doc_id, seg_idx). Scale shape: ONE hash shuffle keyed on the
    // segment text (same partitioning exact dedup uses — Spark hashes the
    // string key, so a 100 TB corpus spreads by content, not by doc), a
    // per-segment keep-first window, then a per-doc re-aggregation; the
    // reassembled text is emitted as its md5 so the result stays
    // row-bounded. No driver-side state anywhere.
    Q("corpus_dedup_paragraph",
      """WITH segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(words[(i * 20 + 1):(i * 20 + 20)], ' ') AS seg
        |  FROM (
        |    SELECT doc_id, words,
        |      unnest(generate_series(0,
        |        CAST(ceil(len(words) / 20.0) AS INT) - 1)) AS i
        |    FROM (SELECT doc_id, string_split(text, ' ') AS words
        |          FROM documents))),
        |ranked AS (
        |  SELECT doc_id, seg_idx, seg,
        |    row_number() OVER (PARTITION BY seg
        |      ORDER BY doc_id, seg_idx) AS rn
        |  FROM segs)
        |SELECT doc_id,
        |  count(*) AS n_segs,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
        |    ORDER BY seg_idx), '')) AS kept_md5
        |FROM ranked
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      paragraphDedup(Tables.documents(s, d), 20)
        .select(col("doc_id"), col("n_segs"), col("n_dropped"),
          md5(col("kept_text").cast("binary")).as("kept_md5"))
        .orderBy("doc_id")
    },

    // DSIR importance weights (Xie et al. 2023, "Data Selection with
    // Importance Resampling"): score every raw document by the
    // log-likelihood ratio of its hashed unigram features under a
    // TARGET corpus distribution vs the RAW distribution — the
    // published recipe for skimming a web-scale crawl toward a small
    // high-quality target domain before pretraining. Target here:
    // the lang='en' slice; features: 256 md5-prefix hash buckets
    // (the repo's cross-engine deterministic hash); both bucket
    // models are Laplace-smoothed (+1 / +256). The per-bucket log
    // ratio is ONE ln of an exact-integer rational, scaled to a
    // BIGINT micro-log (floor(1e6·ln), the text_zipf_slope
    // discipline), so the per-doc weight is an EXACT integer sum —
    // no cross-engine float-summation-order hazard. Plan: one token
    // explode feeds the 256-row bucket model (combiner-friendly
    // conditional aggregate); the scoring pass re-joins tokens to the
    // broadcast 256-row score table and collapses per doc in a single
    // doc-keyed combiner shuffle. At 100 TB the model is two scans of
    // the token stream and a KB-sized broadcast — nothing else grows.
    Q("corpus_dsir_weights",
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tok2 AS (
        |  SELECT doc_id, substr(md5(w), 1, 2) AS b,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt
        |  FROM tok WHERE w <> ''),
        |bc AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS cr,
        |         CAST(sum(tgt) AS BIGINT) AS ct
        |  FROM tok2 GROUP BY b),
        |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
        |               CAST(sum(ct) AS BIGINT) AS nt FROM bc),
        |sc AS (
        |  SELECT b, CAST(floor(ln(
        |      CAST((ct + 1) * (nr + 256) AS DOUBLE)
        |      / CAST((cr + 1) * (nt + 256) AS DOUBLE)) * 1000000)
        |    AS BIGINT) AS score
        |  FROM bc, tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(score) AS BIGINT) AS weight_scaled
        |FROM tok2 JOIN sc USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .select(col("doc_id"), substring(md5(col("w")), 1, 2).as("b"),
          when(col("lang") === "en", 1L).otherwise(0L).as("tgt"))
      val bc = tok.groupBy("b")
        .agg(count(lit(1)).as("cr"), sum(col("tgt")).as("ct"))
      // corpus totals as a GLOBAL WINDOW over the 256-row model — a
      // second .agg would re-derive bc and re-scan the token stream
      // (Catalyst does not CSE across aggregates); the window costs one
      // 256-row single-partition exchange instead of a corpus scan
      val sc = bc
        .withColumn("nr", sum(col("cr")).over(Window.partitionBy()))
        .withColumn("nt", sum(col("ct")).over(Window.partitionBy()))
        .select(col("b"),
          floor(log(((col("ct") + 1) * (col("nr") + 256)).cast("double")
            / ((col("cr") + 1) * (col("nt") + 256)).cast("double"))
            * 1000000).cast("long").as("score"))
      tok.join(broadcast(sc), Seq("b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("score")).as("weight_scaled"))
        .orderBy("doc_id")
    },

    // WATER-FILLING token-budget allocation across sources — the data-
    // recipe step after the mixture report: spend a fixed token budget
    // (half the corpus here) so every source contributes up to a COMMON
    // level and no large source dominates; sources smaller than the
    // level are taken whole ("capped"), the rest split the remaining
    // budget equally. The discrete level comes from the sorted-prefix
    // formulation (rank sources by inventory ascending; source i's
    // candidate level is (budget − prefix) div (remaining sources)) in
    // EXACT integer arithmetic — no float level, no iteration. Spending
    // undershoots the budget by at most (uncapped count − 1) tokens
    // (integer-division remainder), never overshoots. Plan: one
    // combiner token-count shuffle collapses the corpus to |sources|
    // rows; everything after (ranks, prefix sums, the level, the spend)
    // is windows over that tiny frame — at 100 TB the scan is the
    // entire job, exactly like corpus_mix_temperature.
    Q("corpus_token_waterfill",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |inv AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS t
        |  FROM tok WHERE w <> '' GROUP BY source),
        |r AS (
        |  SELECT source, t,
        |    CAST(row_number() OVER (ORDER BY t, source) AS BIGINT) AS i,
        |    CAST(coalesce(sum(t) OVER (ORDER BY t, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pp,
        |    CAST(sum(t) OVER () // 2 AS BIGINT) AS budget,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM inv),
        |lv AS (SELECT r.*, (budget - pp) // (n - i + 1) AS level_i FROM r),
        |fin AS (
        |  SELECT *,
        |    CAST(sum(CASE WHEN t <= level_i THEN t ELSE 0 END) OVER ()
        |      AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN t <= level_i THEN 0 ELSE 1 END) OVER ()
        |      AS BIGINT) AS nu
        |  FROM lv)
        |SELECT source, t AS inventory, budget, t <= level_i AS capped,
        |  CAST(CASE WHEN t <= level_i THEN t
        |       ELSE (budget - ct) // nu END AS BIGINT) AS alloc
        |FROM fin ORDER BY source""".stripMargin) { (s, d) =>
      val inv = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .groupBy("source").agg(count(lit(1)).as("t"))
      val ord = Window.orderBy(col("t"), col("source"))
      val r = inv
        .withColumn("i", row_number().over(ord).cast("long"))
        .withColumn("pp", coalesce(sum(col("t")).over(
          ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("budget",
          expr("sum(t) OVER () div 2"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      val lv = r.withColumn("level_i",
        expr("(budget - pp) div (n - i + 1)"))
      val fin = lv
        .withColumn("ct", sum(when(col("t") <= col("level_i"), col("t"))
          .otherwise(0L)).over(Window.partitionBy()))
        .withColumn("nu", sum(when(col("t") <= col("level_i"), 0L)
          .otherwise(1L)).over(Window.partitionBy()))
      fin.select(col("source"), col("t").as("inventory"), col("budget"),
          (col("t") <= col("level_i")).as("capped"),
          when(col("t") <= col("level_i"), col("t"))
            .otherwise(expr("(budget - ct) div nu")).as("alloc"))
        .orderBy("source")
    },

    // Pairwise Jensen–Shannon divergence between source unigram models —
    // the symmetric, bounded [0, ln 2] distribution distance the mixture
    // planner reads next to corpus_dsir_weights' one-directional LLR
    // (which sources are interchangeable? which pair justifies separate
    // mixture weights?). Same 256-bucket hashed-unigram model and the
    // same BIGINT micro-log discipline as DSIR: for each bucket the two
    // smoothed masses form EXACT integer rationals, p/m and q/m reduce
    // to integer-over-integer (2·(c_a+1)·(N_b+256) over the cross-sum), so
    // each KL term is count × floor(1e6·ln(rational)) — an exact BIGINT
    // sum per pair, ONE double division per side at the end. Bucket
    // space = buckets observed anywhere in the corpus (both engines
    // derive it identically; smoothing keeps zero-count buckets
    // contributing). Plan: ONE token scan feeds the |sources|×256 model;
    // the dense grid, the 190-pair expansion and the divergence all run
    // on KB-sized frames — at 100 TB the scan is the entire job.
    Q("corpus_js_divergence",
      """WITH tok AS (
        |  SELECT source, substr(md5(w), 1, 2) AS b
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE w <> ''),
        |m AS (SELECT source, b, CAST(count(*) AS BIGINT) AS c
        |      FROM tok GROUP BY 1, 2),
        |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS nt
        |      FROM m GROUP BY 1),
        |bk AS (SELECT DISTINCT b FROM m),
        |g AS (
        |  SELECT n.source, n.nt, bk.b, coalesce(m.c, 0) AS c
        |  FROM n CROSS JOIN bk
        |  LEFT JOIN m ON m.source = n.source AND m.b = bk.b),
        |pr AS (
        |  SELECT a.source AS src_a, b2.source AS src_b,
        |    a.nt AS na, b2.nt AS nb, a.c + 1 AS ca, b2.c + 1 AS cb,
        |    (a.c + 1) * (b2.nt + 256) AS wa,
        |    (b2.c + 1) * (a.nt + 256) AS wb
        |  FROM g a JOIN g b2 ON a.b = b2.b AND a.source < b2.source),
        |t AS (
        |  SELECT src_a, src_b, na, nb,
        |    ca * CAST(floor(ln(CAST(2 * wa AS DOUBLE)
        |      / CAST(wa + wb AS DOUBLE)) * 1000000) AS BIGINT) AS tp,
        |    cb * CAST(floor(ln(CAST(2 * wb AS DOUBLE)
        |      / CAST(wa + wb AS DOUBLE)) * 1000000) AS BIGINT) AS tq
        |  FROM pr),
        |ag AS (
        |  SELECT src_a, src_b, max(na) AS n_a, max(nb) AS n_b,
        |    CAST(sum(tp) AS BIGINT) AS sp, CAST(sum(tq) AS BIGINT) AS sq
        |  FROM t GROUP BY 1, 2)
        |SELECT src_a AS source_a, src_b AS source_b, n_a, n_b,
        |  (CAST(sp AS DOUBLE) / CAST(n_a + 256 AS DOUBLE)
        |   + CAST(sq AS DOUBLE) / CAST(n_b + 256 AS DOUBLE))
        |    / 2.0 / 1000000.0 AS js_divergence
        |FROM ag ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .select(col("source"), substring(md5(col("w")), 1, 2).as("b"))
      val m = tok.groupBy("source", "b").agg(count(lit(1)).as("c"))
      val n = m.groupBy("source").agg(sum(col("c")).as("nt"))
      val bk = m.select(col("b")).distinct()
      val g = n.crossJoin(broadcast(bk))
        .join(broadcast(m), Seq("source", "b"), "left")
        .select(col("source"), col("nt"), col("b"),
          coalesce(col("c"), lit(0L)).as("c"))
      val a = g.select(col("source").as("src_a"), col("nt").as("na"),
        col("b"), col("c").as("c_a"))
      val b2 = g.select(col("source").as("src_b"), col("nt").as("nb"),
        col("b").as("bb"), col("c").as("c_b"))
      val pr = a.join(broadcast(b2),
          col("b") === col("bb") && col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"), col("na"), col("nb"),
          (col("c_a") + 1).as("ca"), (col("c_b") + 1).as("cb"),
          ((col("c_a") + 1) * (col("nb") + 256)).as("wa"),
          ((col("c_b") + 1) * (col("na") + 256)).as("wb"))
      val t = pr.select(col("src_a"), col("src_b"), col("na"), col("nb"),
        (col("ca") * floor(log((lit(2) * col("wa")).cast("double")
          / (col("wa") + col("wb")).cast("double")) * 1000000)
          .cast("long")).as("tp"),
        (col("cb") * floor(log((lit(2) * col("wb")).cast("double")
          / (col("wa") + col("wb")).cast("double")) * 1000000)
          .cast("long")).as("tq"))
      t.groupBy("src_a", "src_b")
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          sum(col("tp")).as("sp"), sum(col("tq")).as("sq"))
        .select(col("src_a").as("source_a"), col("src_b").as("source_b"),
          col("n_a"), col("n_b"),
          ((col("sp").cast("double") / (col("n_a") + 256).cast("double")
            + col("sq").cast("double") / (col("n_b") + 256).cast("double"))
            / 2.0 / 1000000.0).as("js_divergence"))
        .orderBy("source_a", "source_b")
    },

    // DSIR RESAMPLE — the selection step the importance weights exist
    // for (Xie et al. 2023 §3: score, then keep the top slice toward
    // the target): rank every doc by its exact-integer DSIR weight
    // (ties by doc_id — fully deterministic, no Gumbel noise needed
    // when the weights are already integers), keep the global top
    // quarter, and report the per-source budget impact the mixture
    // planner reads (docs and TOKENS kept — a source can survive by
    // doc count yet lose its token mass). Same two-scan token pipeline
    // as corpus_dsir_weights; the rank runs over the DOC-sized weight
    // frame. The keep quota is exact integer arithmetic (nd div 4).
    Q("corpus_dsir_resample",
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tok2 AS (
        |  SELECT doc_id, substr(md5(w), 1, 2) AS b,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt
        |  FROM tok WHERE w <> ''),
        |bc AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS cr,
        |         CAST(sum(tgt) AS BIGINT) AS ct
        |  FROM tok2 GROUP BY b),
        |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
        |               CAST(sum(ct) AS BIGINT) AS nt FROM bc),
        |sc AS (
        |  SELECT b, CAST(floor(ln(
        |      CAST((ct + 1) * (nr + 256) AS DOUBLE)
        |      / CAST((cr + 1) * (nt + 256) AS DOUBLE)) * 1000000)
        |    AS BIGINT) AS score
        |  FROM bc, tot),
        |wts AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(score) AS BIGINT) AS weight_scaled
        |  FROM tok2 JOIN sc USING (b) GROUP BY doc_id),
        |ds AS (
        |  SELECT w.doc_id, d.source, w.n_tokens, w.weight_scaled
        |  FROM wts w JOIN documents d ON w.doc_id = d.doc_id),
        |rk AS (
        |  SELECT source, n_tokens,
        |    row_number() OVER (ORDER BY weight_scaled DESC, doc_id)
        |      AS rnk,
        |    count(*) OVER () AS nd
        |  FROM ds),
        |sel AS (SELECT source, n_tokens, rnk <= nd // 4 AS keep FROM rk)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_selected,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
        |    AS tokens_selected,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS doc_share
        |FROM sel GROUP BY source ORDER BY source""".stripMargin) {
        (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .select(col("doc_id"), substring(md5(col("w")), 1, 2).as("b"),
          when(col("lang") === "en", 1L).otherwise(0L).as("tgt"))
      val bc = tok.groupBy("b")
        .agg(count(lit(1)).as("cr"), sum(col("tgt")).as("ct"))
      val sc = bc
        .withColumn("nr", sum(col("cr")).over(Window.partitionBy()))
        .withColumn("nt", sum(col("ct")).over(Window.partitionBy()))
        .select(col("b"),
          floor(log(((col("ct") + 1) * (col("nr") + 256)).cast("double")
            / ((col("cr") + 1) * (col("nt") + 256)).cast("double"))
            * 1000000).cast("long").as("score"))
      val wts = tok.join(broadcast(sc), Seq("b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("score")).as("weight_scaled"))
      val ds = wts.join(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id")
      // unpartitioned rank over the CORPUS (one row per doc) — the
      // top-quartile cut needs a global order. At 100 TB: the keep set
      // is rnk <= nd/4, so compute the quartile boundary weight with
      // approx_percentile (or percentile_disc for exactness) and keep
      // by comparison — no global sort; only boundary ties differ,
      // which the declared query here must preserve, hence the exact
      // rank at fixture scale.
      val rk = ds
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("weight_scaled").desc, col("doc_id"))))
        .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
      val sel = rk.select(col("source"), col("n_tokens"),
        (col("rnk") <= expr("nd div 4")).as("keep"))
      sel.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_selected"),
          sum(col("n_tokens")).as("tokens_total"),
          sum(when(col("keep"), col("n_tokens")).otherwise(0L))
            .as("tokens_selected"))
        .select(col("source"), col("n_docs"), col("n_selected"),
          col("tokens_total"), col("tokens_selected"),
          (col("n_selected").cast("double") / col("n_docs").cast("double"))
            .as("doc_share"))
        .orderBy("source")
    },
  )

  /** Paragraph-level exact dedup with reassembly (frame-parametric kernel
    * behind `corpus_dedup_paragraph` and `graft.api.Graft.paragraphDedup`):
    * `docs` needs (doc_id LONG, text STRING). Segments text into
    * `segWords`-word paragraphs, keeps the globally-first occurrence of
    * each distinct segment (lowest (doc_id, seg_idx)), and reassembles the
    * survivors per doc in original order → (doc_id, n_segs, n_dropped,
    * kept_text).
    */
  private[graft] def paragraphDedup(docs: org.apache.spark.sql.DataFrame,
      segWords: Int): org.apache.spark.sql.DataFrame = {
    val words = split(col("text"), " ")
    val segs = docs
      .select(col("doc_id"), words.as("words"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            ceil(size(col("words")) / segWords.toDouble).cast("int") - 1),
          i => concat_ws(" ", slice(col("words"), i * segWords + 1,
            lit(segWords)))))
          .as(Seq("seg_idx", "seg")))
    val ranked = segs.withColumn("rn",
      row_number().over(
        Window.partitionBy(col("seg")).orderBy(col("doc_id"), col("seg_idx"))))
    // kept segments re-concatenate in seg_idx order; collect_list drops
    // the NULLs `when` leaves on duplicate rows, and sorting the
    // (seg_idx, seg) structs restores document order inside one task
    val keptArr = array_sort(collect_list(
      when(col("rn") === 1, struct(col("seg_idx"), col("seg")))))
    ranked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", transform(keptArr, x => x.getField("seg")))
          .as("kept_text"))
  }
}
