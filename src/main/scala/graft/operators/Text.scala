package graft.operators

import graft.{Pin, Q, Tables}
import graft.functions.{chunks, winnow_fingerprint, word_ngrams}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` corpus (north-star
  * LLM-data-pipeline surface): tokenization stats, chunking (the UDTF
  * surface via `posexplode`), language-ID heuristic, quality scoring,
  * token counting, and document fingerprinting.
  *
  * All are scan-side, shuffle-free per-row computations except the token
  * aggregations — exactly the shape that scales linearly to 100 TB (the
  * groupBys shuffle only (token)-sized keys, with map-side partial
  * aggregation).
  */
object Text {

  /** Small English stopword list shared by lang-ID and quality scoring. */
  private[operators] val Stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private[operators] def stopList = Stopwords.map(w => s"'$w'").mkString(", ")

  /** DuckDB twin of the `word_ngrams` kernel expression. */
  private[operators] def oracleGram(n: Int): String = {
    val words = (0 until n)
      .map(j => s"string_split(text, ' ')[i + $j]").mkString(" || ' ' || ")
    s"""list_transform(generate_series(1, len(string_split(text, ' ')) - ${n - 1}),
       |      i -> $words)""".stripMargin
  }

  /** Classic BPE training (Sennrich et al. 2016) over the corpus's
    * word-frequency dictionary: start from characters, repeatedly merge
    * the most-frequent adjacent symbol pair (ties: max count, then
    * lexicographically smallest left, then right — fully deterministic),
    * for a fixed 20 merges. The 100 TB shape is the same one real
    * tokenizer trainers (subword-nmt, HF tokenizers) use: ONE distributed
    * combiner-friendly word-count shuffle reduces the corpus to a
    * (word, count) dictionary bounded by VOCABULARY size (corpus-
    * sublinear — natural-language vocab is ~1e7 even at web scale,
    * and a min-count floor bounds it harder), then training is
    * O(vocab × merges) on the compact dictionary. Merges are memoized
    * per sfDir so the encode query reuses the trained model.
    *
    * Merge application uses the separator-join string trick on BOTH
    * engines: symbols joined with '|' (not in the corpus alphabet), one
    * literal `replace(s, l||'|'||r, l||r)` per merge — standard
    * left-to-right non-overlapping replace semantics are identical in
    * Java and DuckDB, which makes greedy BPE merge order engine-exact.
    */
  private[graft] def trainBpeOn(dict: Seq[(String, Long)],
      nMerges: Int): Seq[(Long, String, String, Long)] = {
    val cnt = dict.toMap
    var syms: Map[String, Vector[String]] =
      dict.map { case (w, _) => w -> w.map(_.toString).toVector }.toMap
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var it = 0
    var exhausted = false
    while (it < nMerges && !exhausted) {
      val pairs = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((w, ss) <- syms; i <- 0 until ss.length - 1) {
        val k = (ss(i), ss(i + 1))
        pairs.update(k, pairs.getOrElse(k, 0L) + cnt(w))
      }
      if (pairs.isEmpty) exhausted = true
      else {
        val ((l, r), c) = pairs.minBy { case ((pl, pr), pc) => (-pc, pl, pr) }
        out += ((it + 1L, l, r, c))
        val pat = l + "|" + r
        val rep = l + r
        syms = syms.map { case (w, ss) =>
          w -> ss.mkString("|").replace(pat, rep).split("[|]").toVector
        }
        it += 1
      }
    }
    out.toSeq
  }

  private val bpeMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      Seq[(Long, String, String, Long)]]()

  /** Trained merge table for `sfDir`'s corpus (memoized): the word-count
    * reduction is the only distributed step; see [[trainBpeOn]]. The
    * driver receives the FREQUENCY-CAPPED dictionary — top 50k words by
    * (count desc, word), a TakeOrderedAndProject, so the transfer is
    * bounded no matter the corpus size. Frequency-capped dict training
    * is the standard BPE shape (rare-word tails contribute ~nothing to
    * pair counts and dominate vocab size at 100 TB); at fixture scale
    * the cap exceeds the whole vocabulary, so the DuckDB oracle — which
    * trains on the full dict — sees identical input.
    */
  private[operators] def trainBpe(s: SparkSession, d: String)
      : Seq[(Long, String, String, Long)] =
    bpeMemo.computeIfAbsent(d, _ => {
      val dict = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .where(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(50000)
        .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
      trainBpeOn(dict, nMerges = 20)
    })

  /** DuckDB twin of [[trainBpe]]: word-count dict, then a recursive CTE
    * whose working table is the per-word symbol state; each step picks
    * the argmax pair (same tie-break) and applies it with the same
    * separator-join replace. Shared by the train and encode oracles.
    */
  private val bpeTrainCte =
    """vocab AS (
      |  SELECT word, count(*) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> '' GROUP BY word),
      |bpe AS (
      |  SELECT 0 AS it, word, cnt,
      |         array_to_string(string_split(word, ''), '|') AS syms,
      |         CAST(NULL AS VARCHAR) AS ml, CAST(NULL AS VARCHAR) AS mr,
      |         CAST(NULL AS BIGINT) AS mcnt
      |  FROM vocab
      |  UNION ALL
      |  SELECT b.it + 1, b.word, b.cnt,
      |         replace(b.syms, best.l || '|' || best.r, best.l || best.r),
      |         best.l, best.r, best.c
      |  FROM bpe b, (
      |    SELECT p.l, p.r, CAST(sum(p.cnt) AS BIGINT) AS c
      |    FROM (
      |      SELECT x.cnt, x.parts[i] AS l, x.parts[i + 1] AS r
      |      FROM (SELECT cnt, string_split(syms, '|') AS parts, it AS pit
      |            FROM bpe) x,
      |           unnest(generate_series(1, len(x.parts) - 1)) AS g(i)
      |      WHERE x.pit = (SELECT max(it) FROM bpe)
      |    ) p
      |    GROUP BY p.l, p.r
      |    ORDER BY c DESC, p.l, p.r
      |    LIMIT 1) best
      |  WHERE b.it = (SELECT max(it) FROM bpe) AND b.it < 20)""".stripMargin

  /** Frame-parametric SENTENCE-BOUNDARY chunking (re-exported as
    * `graft.api.Graft.sentenceChunks`) — the chunking real RAG ingest
    * uses, next to the fixed-width `chunks` baseline: split each doc's
    * `text` into sentences on `splitPattern` (a terminator regex), then
    * pack whole sentences greedily into ~`target`-char chunks by
    * cumulative character offset, with a one-sentence overlap carried
    * from the previous chunk (the standard retrieval-context trick so a
    * sentence's antecedent survives the chunk boundary).
    *
    * Packing is chunk_idx = (chars before this sentence) div target —
    * a closed form over the per-doc running sum, so the whole operator
    * is scan → ONE doc-keyed window shuffle → per-chunk aggregate →
    * per-doc lag window (same Exchange reused), never a sequential
    * driver loop. Assembly order inside a chunk is pinned by the
    * sentence index (array_sort on (i, s) structs); the overlap
    * sentence is max_by(s, i) — all deterministic, no collation in
    * play. Returns (doc_id, chunk_idx, chunk, n_sentences, n_chars).
    */
  private[graft] def sentenceChunksOf(docs: DataFrame, splitPattern: String,
      target: Int): DataFrame = {
    val sent = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), splitPattern)).as(Seq("p", "s")))
      .where(col("s") =!= "")
      .select(col("doc_id"), (col("p") + lit(1)).as("i"), col("s"))
    val w = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, -1)
    val pos = sent
      .withColumn("cum",
        coalesce(sum(length(col("s")) + 1).over(w), lit(0L)))
      .withColumn("chunk_idx", expr(s"cum div $target"))
    val ch = pos.groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_sentences"),
        array_join(
          transform(array_sort(collect_list(struct(col("i"), col("s")))),
            x => x.getField("s")), " ").as("body"),
        max_by(col("s"), col("i")).as("last_s"))
    val w2 = Window.partitionBy("doc_id").orderBy("chunk_idx")
    ch.withColumn("chunk",
        concat(coalesce(concat(lag(col("last_s"), 1).over(w2), lit(" ")),
          lit("")), col("body")))
      .select(col("doc_id"), col("chunk_idx"), col("chunk"),
        col("n_sentences"), length(col("chunk")).as("n_chars"))
  }

  val defs: Seq[Q] = Seq(

    Q("text_tokenize_stats",
      """SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |      FROM documents)
        |GROUP BY tok
        |ORDER BY n DESC, tok""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n").desc, col("tok"))
    },

    // Chunking: 100-char windows, 20-char overlap (stride 80). The oracle
    // reproduces the window arithmetic with generate_series + substr.
    // (text_chunk_sentences below is the sentence-boundary upgrade real
    // RAG ingest uses; this fixed-width variant stays as the baseline.)
    Q("text_chunk",
      """SELECT doc_id, i AS chunk_idx, substr(text, i * 80 + 1, 100) AS chunk
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0,
        |      CASE WHEN length(text) <= 100 THEN 0
        |           ELSE CAST(ceil((length(text) - 100) / 80.0) AS INT) END)) AS i
        |  FROM documents)
        |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(chunks(col("text"), 100, 20)).as(Seq("chunk_idx", "chunk")))
        .orderBy("doc_id", "chunk_idx")
    },

    // SENTENCE-BOUNDARY chunking into ~120-char chunks with a
    // one-sentence overlap. The synthetic corpus has no punctuation, so
    // the query first derives a punctuated twin deterministically —
    // every 'row' token gets a '.' suffix via the SAME regexp_replace on
    // both engines (RE2 and Java agree on \b and non-overlapping global
    // replace) — then chunks at '. ' boundaries. The packing arithmetic,
    // in-chunk assembly order, and lag-carried overlap are replayed
    // verbatim in the oracle; every derived value is integer or plain
    // string concat, so the hash-compare is exact.
    Q("text_chunk_sentences",
      """WITH pt AS (
        |  SELECT doc_id, regexp_replace(text, '\brow\b', 'row.', 'g') AS t
        |  FROM documents),
        |sent AS (
        |  SELECT doc_id, i, x.parts[i] AS s
        |  FROM (SELECT doc_id, string_split(t, '. ') AS parts FROM pt) x,
        |       unnest(generate_series(1, len(x.parts))) AS g(i)
        |  WHERE x.parts[i] <> ''),
        |pos AS (
        |  SELECT doc_id, i, s,
        |    CAST(COALESCE(sum(length(s) + 1) OVER (PARTITION BY doc_id
        |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) // 120 AS chunk_idx
        |  FROM sent),
        |ch AS (
        |  SELECT doc_id, chunk_idx, count(*) AS n_sentences,
        |    string_agg(s, ' ' ORDER BY i) AS body,
        |    arg_max(s, i) AS last_s
        |  FROM pos GROUP BY 1, 2),
        |fin AS (
        |  SELECT doc_id, chunk_idx, n_sentences,
        |    COALESCE(lag(last_s) OVER (PARTITION BY doc_id
        |      ORDER BY chunk_idx) || ' ', '') || body AS chunk
        |  FROM ch)
        |SELECT doc_id, chunk_idx, chunk, n_sentences,
        |  length(chunk) AS n_chars
        |FROM fin ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      sentenceChunksOf(
        Tables.documents(s, d).select(col("doc_id"),
          regexp_replace(col("text"), "\\brow\\b", "row.").as("text")),
        "\\. ", target = 120)
        .orderBy("doc_id", "chunk_idx")
    },

    // Language-ID heuristic: stopword-hit ratio over whitespace tokens.
    // (The synthetic corpus draws all langs from one vocab, so the declared
    // `lang` column is echoed alongside for comparison, not predicted.)
    Q("text_lang_id",
      s"""SELECT doc_id, lang, n_tok, n_stop,
         |  CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
         |  CASE WHEN CAST(n_stop AS DOUBLE) / n_tok >= 0.05
         |       THEN 'en' ELSE 'unk' END AS guess
         |FROM (
         |  SELECT doc_id, lang,
         |    len(string_split(text, ' ')) AS n_tok,
         |    len(list_filter(string_split(text, ' '),
         |        x -> x IN ($stopList))) AS n_stop
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_tok"),
          size(filter(split(col("text"), " "),
            x => x.isInCollection(Stopwords))).as("n_stop"))
        .select(col("doc_id"), col("lang"), col("n_tok"), col("n_stop"),
          (col("n_stop").cast("double") / col("n_tok")).as("stop_ratio"),
          when(col("n_stop").cast("double") / col("n_tok") >= 0.05, "en")
            .otherwise("unk").as("guess"))
        .orderBy("doc_id")
    },

    // Quality scoring: length, punctuation ratio, mean token length,
    // composite in [0, 1].
    Q("text_quality_score",
      """SELECT doc_id, n_chars2, n_tok, punct_ratio, mean_tok_len,
        |  least(1.0, n_tok / 100.0) * (1.0 - punct_ratio) AS quality
        |FROM (
        |  SELECT doc_id, length(text) AS n_chars2,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
        |         AS DOUBLE) / length(text) AS punct_ratio,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS mean_tok_len
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(col("text")).as("n_chars2"),
          size(split(col("text"), " ")).as("n_tok"),
          (length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
            .cast("double") / length(col("text"))).as("punct_ratio"),
          (length(replace(col("text"), lit(" "), lit(""))).cast("double")
            / size(split(col("text"), " "))).as("mean_tok_len"))
        .select(col("doc_id"), col("n_chars2"), col("n_tok"),
          col("punct_ratio"), col("mean_tok_len"),
          (least(lit(1.0), col("n_tok") / 100.0)
            * (lit(1.0) - col("punct_ratio"))).as("quality"))
        .orderBy("doc_id")
    },

    // Token counting: whitespace split, BPE-ish regex token runs, and the
    // chars/4 estimate common in LLM budgeting.
    Q("text_token_count",
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS re_tokens,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("re_tokens"),
          ceil(length(col("text")) / 4.0).as("bpe_est"))
        .orderBy("doc_id")
    },

    // RAKE keyword extraction (Rose et al. 2010) at word granularity:
    // phrases are maximal stopword-free token runs, a word's degree is
    // the summed length of every phrase it appears in, and its score is
    // degree/frequency — words that ride long multi-word phrases
    // outrank equally-frequent words that stand alone. Corpus-level
    // top-20 keyword table, the unsupervised topic-vocabulary pass of a
    // corpus audit. Plan: phrase ids are a running stopword-boundary
    // count over ONE doc-keyed window; the phrase-length count is a
    // second window over (doc_id, phrase) that REUSES the same Exchange
    // (hash(doc_id) satisfies the (doc_id, ph) clustering — only a
    // local re-sort), so everything before the word-keyed combiner
    // aggregate rides a single shuffle. Score is one double division of
    // exact BIGINTs; top-20 under a total order.
    Q("corpus_rake_keywords",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |    generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, w, pos,
         |    (w IN ($stopList) OR w = '') AS is_stop,
         |    sum(CASE WHEN w IN ($stopList) OR w = ''
         |        THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS ph
         |  FROM toks),
         |c AS (SELECT doc_id, w, ph FROM m WHERE NOT is_stop),
         |cp AS (SELECT doc_id, w, ph,
         |         count(*) OVER (PARTITION BY doc_id, ph) AS plen
         |       FROM c)
         |SELECT w AS word, CAST(sum(plen) AS BIGINT) AS degree,
         |  count(*) AS freq,
         |  CAST(sum(plen) AS DOUBLE) / count(*) AS score
         |FROM cp GROUP BY w
         |ORDER BY score DESC, word LIMIT 20""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val isStop = col("w").isInCollection(Stopwords) || col("w") === ""
      val wRun = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val content = toks
        .withColumn("ph", sum(when(isStop, 1L).otherwise(0L)).over(wRun))
        .where(!isStop)
        .withColumn("plen",
          count(lit(1)).over(Window.partitionBy("doc_id", "ph")))
      content.groupBy("w")
        .agg(sum(col("plen")).as("degree"), count(lit(1)).as("freq"))
        .select(col("w").as("word"), col("degree"), col("freq"),
          (col("degree").cast("double") / col("freq")).as("score"))
        .orderBy(col("score").desc, col("word"))
        .limit(20)
    },

    // Hapax-legomena ratio per document: the fraction of a doc's tokens
    // that occur exactly ONCE in the whole corpus — high ratio flags
    // OCR noise / codepage garbage / synthetic vocab (next to
    // text_quality_score and text_entropy_score in the filter stack),
    // while natural text sits near the Zipf-predicted tail mass. One
    // combiner-friendly term-count shuffle; the count side is then
    // PRUNED to the hapax set (c=1) BEFORE the join back to the token
    // stream — at 100 TB the join's build side shrinks from the full
    // vocabulary to the hapax tail, and the join flips to a left join
    // with a presence marker (absent term = non-hapax). Exact BIGINTs,
    // ratio is one double division. Docs with no tokens are absent on
    // both engines (derived from the token stream).
    Q("text_hapax_ratio",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |tok2 AS (SELECT doc_id, t FROM tok WHERE t <> ''),
        |tc AS (SELECT t, CAST(count(*) AS BIGINT) AS c
        |       FROM tok2 GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS hapax_ratio
        |FROM tok2 JOIN tc USING (t)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
      val hapax = tok.groupBy("t").agg(count(lit(1)).as("c"))
        .where(col("c") === 1)
        .select(col("t"), lit(1L).as("is_hapax"))
      tok.join(hapax, Seq("t"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce(col("is_hapax"), lit(0L))).as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_hapax"),
          (col("n_hapax").cast("double") / col("n_tokens").cast("double"))
            .as("hapax_ratio"))
        .orderBy("doc_id")
    },

    // Corpus NOVELTY curve: per doc, the fraction of its distinct word
    // 3-grams that appear in NO earlier doc (doc_id order = ingest
    // order) — the dataset-curation signal that a crawl has gone stale
    // (novelty decays as later shards re-cover earlier content). First
    // occurrence = min(doc_id) per gram; everything integer until the
    // one final division per doc. Plan: ONE gram-keyed Exchange carries
    // BOTH windows (the per-(gram, doc) dedup row_number clusters on
    // (gram, doc_id), which hash(gram) satisfies — only a local sort),
    // then one doc-keyed combiner aggregate.
    Q("text_ngram_novelty",
      s"""WITH g AS (
         |  SELECT doc_id, unnest(${oracleGram(3)}) AS gram
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |w AS (
         |  SELECT doc_id, gram,
         |    min(doc_id) OVER (PARTITION BY gram) AS first_doc,
         |    row_number() OVER (PARTITION BY gram, doc_id
         |                       ORDER BY doc_id) AS rn
         |  FROM g)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*) AS novelty
         |FROM w WHERE rn = 1
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val g = Tables.documents(s, d)
        .where(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"),
          explode(word_ngrams(col("text"), 3)).as("gram"))
      val wG = Window.partitionBy("gram")
      val wGD = Window.partitionBy("gram", "doc_id").orderBy("doc_id")
      g.withColumn("first_doc", min(col("doc_id")).over(wG))
        .withColumn("rn", row_number().over(wGD))
        .where(col("rn") === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_grams")).as("novelty"))
        .orderBy("doc_id")
    },

    // Content-defined fingerprint of the canonicalized text (exact-dup
    // detection robust to case/punctuation/whitespace noise).
    Q("text_fingerprint",
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
        |  substr(md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))),
        |         1, 8) AS fp8
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val canon = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
      Tables.documents(s, d)
        .select(col("doc_id"), md5(canon).as("fp"),
          substring(md5(canon), 1, 8).as("fp8"))
        .orderBy("doc_id")
    },

    // Winnowing rolling-hash fingerprint — algorithm-defined (no SQL
    // oracle); scalar projections keep the driver's rows-only check happy.
    Q.noOracle("text_winnow_fingerprint") { (s, d) =>
      val fp = winnow_fingerprint(col("text"), 8, 16)
      Tables.documents(s, d)
        .select(col("doc_id"), fp.as("fp"))
        .select(col("doc_id"),
          size(col("fp")).as("n_fp"),
          element_at(col("fp"), 1).as("fp_min"),
          element_at(col("fp"), -1).as("fp_max"))
        .orderBy("doc_id")
    },

    // Intra-document repetition signals (Gopher-style): duplicate 2-gram
    // and 3-gram fractions per doc. Pure row-local HOFs — one codegen'd
    // projection, no shuffle, linear to 100 TB. (The cross-document
    // counterpart is `text_boilerplate_ngrams`.)
    Q("text_repetition_score",
      s"""SELECT doc_id, n_2grams,
         |  1.0 - CAST(len(list_distinct(${oracleGram(2)}))
         |        AS DOUBLE) / len(${oracleGram(2)}) AS dup2_frac,
         |  1.0 - CAST(len(list_distinct(${oracleGram(3)}))
         |        AS DOUBLE) / len(${oracleGram(3)}) AS dup3_frac
         |FROM (SELECT doc_id, text,
         |        len(string_split(text, ' ')) - 1 AS n_2grams
         |      FROM documents WHERE len(string_split(text, ' ')) >= 3)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      def dupFrac(n: Int) =
        lit(1.0) - size(array_distinct(word_ngrams(col("text"), n)))
          .cast("double") / size(word_ngrams(col("text"), n))
      Tables.documents(s, d)
        .where(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"),
          (size(split(col("text"), " ")) - 1).as("n_2grams"),
          dupFrac(2).as("dup2_frac"),
          dupFrac(3).as("dup3_frac"))
        .orderBy("doc_id")
    },

    // Bigram language-model statistics: corpus bigram counts with the
    // conditional estimate P(w2|w1) ≈ c(w1 w2)/c(w1) (unigram-count
    // denominator — the standard MLE up to end-of-doc truncation). The
    // n-gram-LM / tokenizer-analysis building block: two combiner-friendly
    // count shuffles + one join on the first token; both counts are exact
    // longs so the one double division is bit-identical cross-engine.
    Q("text_bigram_lm",
      s"""WITH b AS (
         |  SELECT g, count(*) AS c2 FROM (
         |    SELECT unnest(${oracleGram(2)}) AS g
         |    FROM documents WHERE len(string_split(text, ' ')) >= 2)
         |  GROUP BY g),
         |u AS (
         |  SELECT tok, count(*) AS c1 FROM (
         |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY tok)
         |SELECT g, c2, c1, CAST(c2 AS DOUBLE) / c1 AS p
         |FROM b JOIN u ON string_split(g, ' ')[1] = u.tok
         |ORDER BY c2 DESC, g
         |LIMIT 50""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val b = docs.where(size(split(col("text"), " ")) >= 2)
        .select(explode(word_ngrams(col("text"), 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c2"))
      val u = docs
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c1"))
      b.join(u, substring_index(col("g"), " ", 1) === col("tok"))
        .select(col("g"), col("c2"), col("c1"),
          (col("c2").cast("double") / col("c1")).as("p"))
        .orderBy(col("c2").desc, col("g"))
        .limit(50)
    },

    // Per-doc bigram cross-entropy under the corpus LM — the CCNet-style
    // perplexity quality filter (docs scoring far above the corpus norm
    // are gibberish/boilerplate; far below are degenerate repetition).
    // Model: add-1/2-smoothed P(w2|w1) = (c2+0.5)/(c1+0.5V) over the
    // whole corpus; score: xent = -mean log P over the doc's bigram
    // OCCURRENCES. Scale shape: two combiner-friendly count shuffles
    // build the model; scoring is ONE hash join of doc-bigrams to the
    // model on the gram key (at 100 TB the model is top-K pruned +
    // broadcast and the join disappears into the scan). Float parity:
    // ln is the one transcendental → rounded to 8 BEFORE use; per-doc
    // summation folds over the SORTED logp list so both engines add
    // identical operands in identical order; the final -sum/n division
    // is emitted unrounded.
    Q("text_perplexity_bigram",
      s"""WITH b AS (
         |  SELECT g, count(*) AS c2 FROM (
         |    SELECT unnest(${oracleGram(2)}) AS g
         |    FROM documents WHERE len(string_split(text, ' ')) >= 2)
         |  GROUP BY g),
         |u AS (
         |  SELECT tok, count(*) AS c1 FROM (
         |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY tok),
         |v AS (SELECT count(*) AS v FROM u),
         |m AS (
         |  SELECT g, round(ln((c2 + 0.5) / (c1 + 0.5 * v.v)), 8) AS logp
         |  FROM b JOIN u ON string_split(g, ' ')[1] = u.tok CROSS JOIN v),
         |dg AS (
         |  SELECT doc_id, unnest(${oracleGram(2)}) AS g
         |  FROM documents WHERE len(string_split(text, ' ')) >= 2)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  -list_reduce(list_sort(list(m.logp)), (a, b) -> a + b)
         |    / count(*) AS xent
         |FROM dg JOIN m USING (g)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val b = docs.where(size(split(col("text"), " ")) >= 2)
        .select(explode(word_ngrams(col("text"), 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c2"))
      val u = docs
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c1"))
      val v = u.select(count(lit(1)).as("v"))
      val m = b.join(u, substring_index(col("g"), " ", 1) === col("tok"))
        .crossJoin(broadcast(v))
        .select(col("g"),
          round(log((col("c2") + 0.5) / (col("c1") + lit(0.5) * col("v"))), 8)
            .as("logp"))
      val dg = docs.where(size(split(col("text"), " ")) >= 2)
        .select(col("doc_id"), explode(word_ngrams(col("text"), 2)).as("g"))
      dg.join(m, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sort_array(collect_list(col("logp"))).as("lps"))
        .select(col("doc_id"), col("n_bigrams"),
          (-expr("aggregate(lps, 0D, (acc, x) -> acc + x)")
            / col("n_bigrams")).as("xent"))
        .orderBy("doc_id")
    },

    // Cross-document boilerplate detection: 5-grams shared by >= 3
    // distinct docs (headers/footers/license blocks in a real corpus).
    // Per-doc-distinct grams explode map-side, then ONE count shuffle on
    // gram with map-side partials; the >= filter collapses the output to
    // the boilerplate set and top-100 bounds it. At 100 TB the gram key
    // space is what shuffles — high-cardinality but combiner-friendly
    // (singleton grams dominate and die in the HAVING).
    Q("text_boilerplate_ngrams",
      s"""SELECT gram, n_docs FROM (
         |  SELECT gram, count(*) AS n_docs FROM (
         |    SELECT DISTINCT doc_id, unnest(list_distinct(${oracleGram(5)}))
         |           AS gram
         |    FROM documents WHERE len(string_split(text, ' ')) >= 5)
         |  GROUP BY gram)
         |WHERE n_docs >= 3
         |ORDER BY n_docs DESC, gram
         |LIMIT 100""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .where(size(split(col("text"), " ")) >= 5)
        .select(col("doc_id"),
          explode(array_distinct(word_ngrams(col("text"), 5))).as("gram"))
        .groupBy("gram")
        .agg(count(lit(1)).as("n_docs"))
        .where(col("n_docs") >= 3)
        .orderBy(col("n_docs").desc, col("gram"))
        .limit(100)
    },

    // BPE training: the learned merge table (rank, pair, weighted pair
    // count) — see trainBpe for the algorithm, determinism contract, and
    // the 100 TB shape (one word-count shuffle, then O(vocab × merges)
    // on the corpus-sublinear dictionary).
    Q("text_bpe_train",
      s"""WITH RECURSIVE $bpeTrainCte
         |SELECT CAST(it AS BIGINT) AS rank, ml AS left_sym, mr AS right_sym,
         |       mcnt AS pair_count
         |FROM (SELECT DISTINCT it, ml, mr, mcnt FROM bpe WHERE it > 0)
         |ORDER BY rank""".stripMargin) { (s, d) =>
      import s.implicits._
      trainBpe(s, d)
        .toDF("rank", "left_sym", "right_sym", "pair_count")
        .orderBy("rank")
    },

    // BPE encode under the learned merges: per-doc token counts. The
    // tokenizer is ONE codegen'd expression — char-split via separator
    // insertion, then the 20 trained replaces in rank order — so encoding
    // is a pure map-side pass (no shuffle, no dictionary join, no UDF);
    // the only exchange is the final per-doc sum. 100 TB: embarrassingly
    // parallel, ~the per-word work any tokenizer pays. (Alternative for
    // extreme word repetition: token-count the DISTINCT-word frame and
    // broadcast-join back — memoization at the cost of a shuffle.)
    Q("text_bpe_encode",
      s"""WITH RECURSIVE $bpeTrainCte,
         |merges AS (SELECT DISTINCT it, ml, mr FROM bpe WHERE it > 0),
         |enc AS (
         |  SELECT 0 AS it, word,
         |         array_to_string(string_split(word, ''), '|') AS syms
         |  FROM vocab
         |  UNION ALL
         |  SELECT e.it + 1, e.word,
         |         replace(e.syms, m.ml || '|' || m.mr, m.ml || m.mr)
         |  FROM enc e JOIN merges m ON m.it = e.it + 1),
         |wtok AS (
         |  SELECT word, len(string_split(syms, '|')) AS ntok
         |  FROM enc WHERE it = (SELECT count(*) FROM merges)),
         |docwords AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents)
         |SELECT d.doc_id, CAST(sum(w.ntok) AS BIGINT) AS n_tokens,
         |       count(*) AS n_words
         |FROM docwords d JOIN wtok w ON d.word = w.word
         |GROUP BY d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val syms0 = regexp_replace(col("word"), "(.)(?=.)", "$1|")
      val folded = trainBpe(s, d).foldLeft(syms0: Column) {
        case (c, (_, l, r, _)) => replace(c, lit(l + "|" + r), lit(l + r))
      }
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .where(col("word") =!= "")
        .select(col("doc_id"), size(split(folded, "[|]")).as("ntok"))
        .groupBy("doc_id")
        .agg(sum(col("ntok")).as("n_tokens"), count(lit(1)).as("n_words"))
        .orderBy("doc_id")
    },

    // Tokenizer FERTILITY by language — tokens-per-word under the
    // trained BPE, the tokenizer-health metric multilingual pipelines
    // track (a language with fertility 2× the corpus mean pays 2× the
    // context budget per word and trains on fragmented units; the
    // go-signal for retraining the tokenizer or re-weighting the mix).
    // Rides the SAME trained merge table as text_bpe_train/encode (one
    // capped-dict train, memoized) and the same per-word fold; adds the
    // per-language rollup plus chars-per-token from the documents'
    // stored lengths. Exact BIGINT counts; two double divisions per
    // row. Plan: the per-WORD token counts come from the vocab-sized
    // frame (the fold runs once per distinct word, not per token) and
    // broadcast-join onto the token stream; one lang-keyed combiner
    // aggregate each side.
    Q("corpus_tokenizer_fertility",
      s"""WITH RECURSIVE $bpeTrainCte,
         |merges AS (SELECT DISTINCT it, ml, mr FROM bpe WHERE it > 0),
         |enc AS (
         |  SELECT 0 AS it, word,
         |         array_to_string(string_split(word, ''), '|') AS syms
         |  FROM vocab
         |  UNION ALL
         |  SELECT e.it + 1, e.word,
         |         replace(e.syms, m.ml || '|' || m.mr, m.ml || m.mr)
         |  FROM enc e JOIN merges m ON m.it = e.it + 1),
         |wtok AS (
         |  SELECT word, len(string_split(syms, '|')) AS ntok
         |  FROM enc WHERE it = (SELECT count(*) FROM merges)),
         |docw AS (
         |  SELECT lang, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |agg AS (
         |  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(w.ntok) AS BIGINT) AS n_tokens
         |  FROM docw d JOIN wtok w ON d.word = w.word GROUP BY 1),
         |chs AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |          CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |        FROM documents GROUP BY 1)
         |SELECT agg.lang AS lang, n_docs, n_words, n_tokens,
         |  CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    AS fertility,
         |  CAST(sum_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    AS chars_per_token
         |FROM agg JOIN chs ON agg.lang = chs.lang
         |ORDER BY lang""".stripMargin) { (s, d) =>
      val syms0 = regexp_replace(col("word"), "(.)(?=.)", "$1|")
      val folded = trainBpe(s, d).foldLeft(syms0: Column) {
        case (c, (_, l, r, _)) => replace(c, lit(l + "|" + r), lit(l + r))
      }
      val docw = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .where(col("word") =!= "")
      val wtok = docw.select(col("word")).distinct()
        .select(col("word"), size(split(folded, "[|]")).as("ntok"))
      val agg = docw.join(broadcast(wtok), "word")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_tokens"))
      val chs = Tables.documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      agg.join(broadcast(chs), "lang")
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_tokens"),
          (col("n_tokens").cast("double") / col("n_words").cast("double"))
            .as("fertility"),
          (col("sum_chars").cast("double") / col("n_tokens").cast("double"))
            .as("chars_per_token"))
        .orderBy("lang")
    },

    // HEAPS' LAW fit — vocabulary growth V(N) ≈ K·N^β over the corpus
    // read in doc_id order (sublinear 0 < β < 1 for natural-ish text;
    // β → 1 flags synthetic/random corpora, β → 0 pure boilerplate).
    // Unit = word TRIGRAMS (the dedup family's shingle), which keeps
    // the curve informative even when the base lexicon is tiny — the
    // fixture's 31-word lexicon saturates inside the first bucket, but
    // its realized trigram space keeps growing, exactly the regime a
    // template-heavy web crawl shows. Ten checkpoint buckets by
    // document RANK; V_i = shingles whose FIRST bucket ≤ i (min-bucket
    // per shingle, then a cumulative window over ten rows — never a
    // vocab×checkpoint join); N_i = cumulative shingle count; β = OLS
    // slope of the micro-log pairs (floor(1e6·ln), text_zipf_slope
    // discipline) so every regression accumulator is an exact BIGINT
    // sum. The bucket id is explicit integer arithmetic
    // ((rk−1)·10 div n_docs + 1), not ntile. Plan: the doc scan and the
    // rank window are computed once and SHARED via the window's
    // exchange; the in-task shingle explode (codegen'd word_ngrams, ONE
    // split per row) feeds the two combiner aggregates — (bucket,
    // shingle) counts and the min-bucket vocab pass — each clustering
    // on its own key; the global doc-rank window runs on the DOC frame
    // (row-count sized, not token sized — at 100 TB the rank comes from
    // a range-partitioned sort or the catalog's file ordering, and
    // everything after the two combiner aggregates is a 10-row frame).
    Q("text_heaps_law",
      """WITH rk AS (
        |  SELECT doc_id, text, row_number() OVER (ORDER BY doc_id) AS rk,
        |    count(*) OVER () AS nd
        |  FROM documents),
        |tb AS (
        |  SELECT ((rk - 1) * 10) // nd + 1 AS b,
        |    ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS w
        |  FROM (SELECT rk, nd, string_split(text, ' ') AS ws FROM rk) t,
        |    unnest(generate_series(1, greatest(len(ws) - 2, 0)))
        |      AS u(i)),
        |tokens AS (SELECT b, CAST(count(*) AS BIGINT) AS tk
        |           FROM tb GROUP BY 1),
        |firstb AS (SELECT w, min(b) AS fb FROM tb GROUP BY 1),
        |vocab AS (SELECT fb AS b, CAST(count(*) AS BIGINT) AS vc
        |          FROM firstb GROUP BY 1),
        |cum AS (
        |  SELECT t.b,
        |    CAST(sum(t.tk) OVER (ORDER BY t.b) AS BIGINT) AS n_tokens,
        |    CAST(sum(coalesce(v.vc, 0)) OVER (ORDER BY t.b) AS BIGINT)
        |      AS vocab_cum
        |  FROM tokens t LEFT JOIN vocab v ON t.b = v.b),
        |ml AS (
        |  SELECT b, n_tokens, vocab_cum,
        |    CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS x,
        |    CAST(floor(ln(CAST(vocab_cum AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS y
        |  FROM cum),
        |sl AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m2,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM ml)
        |SELECT b AS bucket, n_tokens, vocab_cum,
        |  (CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS heaps_beta
        |FROM ml, sl ORDER BY bucket""".stripMargin) { (s, d) =>
      // unpartitioned rank over the CORPUS, used only to cut doc_id
      // order into 10 growth buckets. At 100 TB replace with bucket =
      // (doc_id's position by range boundaries): range-partition doc_id
      // into 10 quantile ranges via approx_percentile and bucket by
      // comparison — identical buckets whenever doc_ids are dense, no
      // global sort.
      val rk = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("rk", row_number().over(Window.orderBy("doc_id")))
        .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
      val tb = rk
        .select(expr("((rk - 1) * 10) div nd + 1").as("b"),
          explode(word_ngrams(col("text"), 3)).as("w"))
      val tokens = tb.groupBy("b").agg(count(lit(1)).as("tk"))
      val vocab = tb.groupBy("w").agg(min(col("b")).as("fb"))
        .groupBy(col("fb").as("b")).agg(count(lit(1)).as("vc"))
      val wb = Window.orderBy("b")
      val cum = tokens.join(broadcast(vocab), Seq("b"), "left")
        .select(col("b"),
          sum(col("tk")).over(wb).as("n_tokens"),
          sum(coalesce(col("vc"), lit(0L))).over(wb).as("vocab_cum"))
      val ml = cum.select(col("b"), col("n_tokens"), col("vocab_cum"),
        floor(log(col("n_tokens").cast("double")) * 1000000)
          .cast("long").as("x"),
        floor(log(col("vocab_cum").cast("double")) * 1000000)
          .cast("long").as("y"))
      val sl = ml.agg(count(lit(1)).as("m2"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      ml.crossJoin(broadcast(sl))
        .select(col("b").as("bucket"), col("n_tokens"), col("vocab_cum"),
          ((col("m2").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            / (col("m2").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")))
            .as("heaps_beta"))
        .orderBy("bucket")
    },

    // Yule's K vocabulary-richness characteristic per language — the
    // repetitiveness constant next to the Zipf slope and Heaps
    // exponent (K is size-invariant where type/token ratios are not,
    // so it compares corpora of different volume honestly): K =
    // 10⁴·(Σc² − N)/N² over the term-frequency spectrum, every
    // accumulator an exact BIGINT, K one double expression. Plan: one
    // (lang, term) combiner aggregate collapses the token explode; the
    // K algebra runs on the \|langs\|-row frame.
    Q("text_yule_k",
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |tf AS (SELECT lang, t, CAST(count(*) AS BIGINT) AS c
        |       FROM tok WHERE t <> '' GROUP BY 1, 2),
        |st AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n,
        |         CAST(count(*) AS BIGINT) AS v,
        |         CAST(sum(c * c) AS BIGINT) AS s2
        |       FROM tf GROUP BY 1)
        |SELECT lang, n AS n_tokens, v AS n_types,
        |  10000.0 * (CAST(s2 AS DOUBLE) - n)
        |    / (CAST(n AS DOUBLE) * n) AS yule_k
        |FROM st ORDER BY lang""".stripMargin) { (s, d) =>
      yuleKOf(
        Tables.documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("t"))
          .where(col("t") =!= ""),
        "lang", "t")
        .select(col("grp").as("lang"), col("n_tokens"), col("n_types"),
          col("yule_k"))
        .orderBy("lang")
    },

    // Per-word BURSTINESS (Fano factor of per-document counts) for the
    // top-20 corpus words — the content-vs-function signal (a topical
    // word clumps into the documents about its topic, F ≫ 1; a
    // function word spreads Poisson-like, F ≈ 1), the lexical
    // counterpart of events_interevent_burstiness. Variance over ALL
    // docs including zeros, which cost nothing: absent docs add 0 to
    // Σc/Σc² and enter only through the doc-count denominator. All
    // accumulators BIGINT-exact; F one double cascade. Plan: one
    // (term, doc) combiner aggregate, a term-level reduce, TakeOrdered
    // top-20 under a total order; the Fano algebra runs on 20 rows.
    Q("text_word_burstiness",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |dtc AS (SELECT t, doc_id, CAST(count(*) AS BIGINT) AS c
        |        FROM tok WHERE t <> '' GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM documents),
        |wf AS (SELECT t, CAST(sum(c) AS BIGINT) AS s,
        |         CAST(sum(c * c) AS BIGINT) AS ss,
        |         CAST(count(*) AS BIGINT) AS df
        |       FROM dtc GROUP BY 1 ORDER BY s DESC, t LIMIT 20)
        |SELECT t AS word, wf.s AS n_tokens, wf.df AS doc_freq,
        |  (CAST(ss AS DOUBLE) / d
        |     - (CAST(s AS DOUBLE) / d) * (CAST(s AS DOUBLE) / d))
        |    / (CAST(s AS DOUBLE) / d) AS fano
        |FROM wf CROSS JOIN nd
        |ORDER BY n_tokens DESC, word""".stripMargin) { (s, d) =>
      val dtc = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
        .groupBy("t", "doc_id").agg(count(lit(1)).as("c"))
      val nd = Tables.documents(s, d).agg(count(lit(1)).as("d"))
      val wf = dtc.groupBy("t").agg(sum(col("c")).as("s"),
          sum(col("c") * col("c")).as("ss"), count(lit(1)).as("df"))
        .orderBy(col("s").desc, col("t")).limit(20)
      wf.crossJoin(broadcast(nd))
        .select(col("t").as("word"), col("s").as("n_tokens"),
          col("df").as("doc_freq"),
          ((col("ss").cast("double") / col("d")
            - (col("s").cast("double") / col("d"))
              * (col("s").cast("double") / col("d")))
            / (col("s").cast("double") / col("d"))).as("fano"))
        .orderBy(col("n_tokens").desc, col("word"))
    },

    // Top-k token COVERAGE curve — what share of the whole corpus the
    // k most frequent words carry (k = 1/2/5/10/20/50), the stopword-
    // budget and tokenizer-vocabulary planning curve that the Zipf
    // slope summarizes but does not expose pointwise. Checkpoints that
    // exceed the vocabulary drop out identically on both engines. All
    // counts BIGINT-exact; coverage one double division. Plan: one
    // term-frequency combiner shuffle, TakeOrdered top-50, then the
    // rank/prefix window on ≤50 rows — the corpus never meets a
    // window.
    Q("text_topk_coverage",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT t, CAST(count(*) AS BIGINT) AS c
        |       FROM tok WHERE t <> '' GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |          CAST(count(*) AS BIGINT) AS v FROM tf),
        |top AS (SELECT t, c FROM tf ORDER BY c DESC, t LIMIT 50),
        |rk AS (SELECT row_number() OVER (ORDER BY c DESC, t) AS r,
        |         CAST(sum(c) OVER (ORDER BY c DESC, t) AS BIGINT) AS cum
        |       FROM top),
        |ck AS (SELECT CAST(k AS BIGINT) AS k
        |       FROM (VALUES (1), (2), (5), (10), (20), (50)) AS v(k))
        |SELECT ck.k AS top_k, rk.cum AS cum_tokens, tot.v AS n_types,
        |  CAST(rk.cum AS DOUBLE) / tot.n AS coverage
        |FROM ck JOIN rk ON rk.r = ck.k CROSS JOIN tot
        |ORDER BY ck.k""".stripMargin) { (s, d) =>
      // the vocab-sized frequency frame feeds both the totals and the
      // top-50 cut; localCheckpoint pins it to one corpus scan
      val tf = Pin.now(Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("t"))
        .where(col("t") =!= "")
        .groupBy("t").agg(count(lit(1)).as("c")))
      val tot = tf.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
      val top = tf.orderBy(col("c").desc, col("t")).limit(50)
      val w = Window.orderBy(col("c").desc, col("t"))
      val rk = top.select(row_number().over(w).as("r"),
        sum(col("c")).over(w).as("cum"))
      val ck = { import s.implicits._
        Seq(1L, 2L, 5L, 10L, 20L, 50L).toDF("k") }
      ck.join(broadcast(rk), col("r") === col("k"))
        .crossJoin(broadcast(tot))
        .select(col("k").as("top_k"), col("cum").as("cum_tokens"),
          col("v").as("n_types"),
          (col("cum").cast("double") / col("n")).as("coverage"))
        .orderBy("top_k")
    },
  )

  /** Yule's K vocabulary-richness characteristic of `tokenCol` rows
    * per `groupCol` → (grp, n_tokens, n_types, yule_k). Size-invariant
    * where type/token ratios are not; every accumulator an exact
    * BIGINT — see the `text_yule_k` query scaladoc.
    */
  private[graft] def yuleKOf(tokens: DataFrame, groupCol: String,
      tokenCol: String): DataFrame = {
    val tf = tokens.groupBy(col(groupCol).as("grp"),
        col(tokenCol).as("t"))
      .agg(count(lit(1)).as("c"))
    val st = tf.groupBy("grp").agg(sum(col("c")).as("n"),
      count(lit(1)).as("v"), sum(col("c") * col("c")).as("s2"))
    st.select(col("grp"), col("n").as("n_tokens"),
      col("v").as("n_types"),
      (lit(10000.0) * (col("s2").cast("double") - col("n"))
        / (col("n").cast("double") * col("n"))).as("yule_k"))
  }
}
