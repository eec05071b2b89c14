package graft.operators

import graft.{Q, Tables}
import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The RAG operator chain, Spark-first (SURVEY.md §2.1 A5–A11, §7.2).
  *
  * The reference implements retrieve-augment-generate as per-record network
  * calls (OpenAI embed `RAG.java:47`, OpenSearch k-NN `RAG.java:51-59`,
  * chat completion `RAG.java:87-98`). Here the same semantic chain is a
  * declarative DataFrame program over a parquet-backed vector store:
  * embed → cosine top-k → score-ordered context concat → prompt render →
  * deterministic extractive mock answer.
  *
  * Scale posture: the probe side is a broadcast of O(k) rows; the store
  * is scored in its scan stage and never shuffled. `top_k` keeps at most
  * k scored rows per question per task, those cross one exchange, and
  * context and answer read its ranked array: no sort, no regrouping.
  */
object Rag {

  /** Prompt template carried verbatim from `RAG.java:67-74` — including the
    * Blip-Blop persona, the refusal instruction, the curly typographic
    * quotes, and the (sic) unclosed quote before the colon. A user porting
    * the reference keeps the exact answer-style contract their LLM sees.
    */
  val PromptTemplate: String =
    """You are Blip-Blop, an expert home-care assistant. Strictly follow ALL provided context. If the context is insufficient, answer “I don’t know:
      |
      |Question:
      |{{question}}
      |
      |Base your answer on the following information:
      |{{information}}""".stripMargin

  val FixedQuestion = "how does a query filter rows in a stream"

  /** (vec_id, score) of every store vector against the deterministic
    * probe, the store vector with vec_id = 0 (lets DuckDB oracle the k-NN
    * search via a scalar subquery on the same table), at the reference's
    * minScore(0.0), RAG.java:54.
    */
  private def probeScores(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val probe = e.where(col("vec_id") === 0).select(col("embedding").as("probe"))
    e.crossJoin(broadcast(probe))
      .where(col("vec_id") =!= 0)
      .select(col("vec_id"), cosine_sim(col("embedding"), col("probe")).as("score"))
      .where(col("score") >= 0.0)
  }

  /** Top-k rows (vec_id, score) for the fixed probe — A7/A8. */
  def knnTopK(s: SparkSession, d: String, k: Int = 10): DataFrame =
    probeScores(s, d).orderBy(col("score").desc, col("vec_id")).limit(k)

  /** The top k for the fixed probe with their text, as one row whose `top`
    * is the ranked array of (score, vec_id, text). Scores join `documents`
    * BEFORE the cut, as the oracle does (ADVICE r1 — cutting first would
    * select a different set if a top-k vec_id lacked a documents row).
    */
  def knnTopKWithText(s: SparkSession, d: String, k: Int = 10): DataFrame =
    probeScores(s, d)
      .join(Tables.documents(s, d), col("vec_id") === col("doc_id"))
      .agg(top_k(col("score"), col("vec_id"), k, col("text")).as("top"))

  /** Literal template substitution — `replace` has plain-string semantics on
    * both engines, unlike `regexp_replace` whose Java `Matcher` replacement
    * treats `$`/`\` specially (ADVICE r1).
    */
  private def renderPrompt(question: Column, information: Column): Column =
    replace(
      replace(lit(PromptTemplate), lit("{{question}}"), question),
      lit("{{information}}"), information)

  /** A9 context: the `text` of every entry of a ranked `top_k` array
    * joined with "\n\n", in rank order: descending `score`, ties broken
    * by the top-k's tie-break (RAG.java:76-78).
    */
  private def contextOf(top: Column): Column =
    array_join(transform(top, _.getField("text")), "\n\n")

  /** The answer tail (A9–A11) over (question, top), `top` a `top_k`
    * array of (score, tie-break, …, text): the context, the rendered
    * prompt, and the extractive mock answer — the first sentence of the
    * best match, a deterministic stand-in for the chat call at
    * RAG.java:87-98. The best match is the maximum entry by (score,
    * tie-break, text); on tied top scores that is not the context's head.
    */
  private[graft] def answerTail(ranked: DataFrame): DataFrame =
    ranked
      .select(col("question"), contextOf(col("top")).as("context"),
        array_max(col("top")).as("best"))
      .select(
        col("question"),
        col("context"),
        renderPrompt(col("question"), col("context")).as("prompt"),
        concat(lit("[extractive] "),
          substring_index(col("best.text"), ".", 1)).as("answer"))

  /** Greedy MMR selection over a BOUNDED candidate frame (vec_id,
    * embedding ARRAY<FLOAT>, rel DOUBLE) — re-exported as
    * `graft.api.Graft.mmrRerank`. Candidates are O(pool) by construction
    * (distributed top-k upstream), so the inherently sequential greedy
    * runs inside ONE task via mapPartitions on the coalesced rows — the
    * bounded-small-side pattern, no driver collect. Returns
    * (rank, vec_id, mmr_score rounded to 6).
    */
  private[graft] def mmrSelect(cand: DataFrame, k: Int, lambda: Double)
      : DataFrame = {
    val spark0 = cand.sparkSession
    import spark0.implicits._
    cand.select(col("vec_id"), col("embedding"), col("rel"))
      .as[(Long, Array[Float], Double)]
      .coalesce(1)
      .mapPartitions { it =>
        val cs = it.toArray.sortBy(c => (-c._3, c._1))
        def cos(a: Array[Float], b: Array[Float]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
          }
          if (na == 0.0 || nb == 0.0) 0.0
          else dot / math.sqrt(na) / math.sqrt(nb)
        }
        val used = Array.fill(cs.length)(false)
        val picked = Seq.newBuilder[(Int, Long, Double)]
        val chosen = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        var r = 1
        while (r <= k && r <= cs.length) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < cs.length) {
            if (!used(i)) {
              val div = if (chosen.isEmpty) 0.0
                        else chosen.map(e => cos(cs(i)._2, e)).max
              val score = lambda * cs(i)._3 - (1 - lambda) * div
              // strict > keeps the earlier (higher-rel, lower-id) on ties
              if (score > bestScore) { best = i; bestScore = score }
            }
            i += 1
          }
          // all-NaN scores (dirty caller embeddings) leave best = -1:
          // stop selecting rather than crash mid-task
          if (best < 0) { r = k + 1 }
          else {
            used(best) = true
            chosen += cs(best)._2
            picked += ((r, cs(best)._1, math.rint(bestScore * 1e6) / 1e6))
            r += 1
          }
        }
        picked.result().iterator
      }
      .toDF("rank", "vec_id", "mmr_score")
  }

  val defs: Seq[Q] = Seq(

    Q("rag_knn_topk",
      """SELECT vec_id, round(score, 6) AS score FROM (
        |  SELECT vec_id,
        |    list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
        |    ) AS score
        |  FROM embeddings WHERE vec_id <> 0)
        |WHERE score >= 0.0
        |ORDER BY score DESC, vec_id
        |LIMIT 10""".stripMargin) { (s, d) =>
      knnTopK(s, d).select(col("vec_id"), round(col("score"), 6).as("score"))
    },

    Q("rag_context_assemble",
      """SELECT string_agg(text, chr(10) || chr(10) ORDER BY score DESC, vec_id)
        |         AS context
        |FROM (
        |  SELECT e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
        |    ) AS score,
        |    d.text
        |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
        |  WHERE e.vec_id <> 0
        |  ORDER BY score DESC, vec_id LIMIT 10)""".stripMargin) { (s, d) =>
      // A9: texts of the top-k matches joined with "\n\n" in score order
      // (RAG.java:76-78), ties broken by vec_id.
      knnTopKWithText(s, d).select(contextOf(col("top")).as("context"))
    },

    Q("rag_prompt_render",
      s"""SELECT replace(replace(
         |  'You are Blip-Blop, an expert home-care assistant. Strictly follow ALL provided context. If the context is insufficient, answer “I don’t know:' || chr(10)
         |    || chr(10) || 'Question:' || chr(10) || '{{question}}' || chr(10)
         |    || chr(10) || 'Base your answer on the following information:'
         |    || chr(10) || '{{information}}',
         |  '{{question}}', '${FixedQuestion}'),
         |  '{{information}}', context) AS prompt
         |FROM (
         |  SELECT string_agg(text, chr(10) || chr(10)
         |           ORDER BY score DESC, vec_id) AS context
         |  FROM (
         |    SELECT e.vec_id,
         |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |        (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
         |      ) AS score,
         |      d.text
         |    FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
         |    WHERE e.vec_id <> 0
         |    ORDER BY score DESC, vec_id LIMIT 10))""".stripMargin) { (s, d) =>
      // A10: template substitution of RAG.java:67-84.
      val ctx = defs.find(_.name == "rag_context_assemble").get.fn(s, d)
      ctx.select(renderPrompt(lit(FixedQuestion), col("context")).as("prompt"))
    },

    Q.noOracle("rag_embed_deterministic") { (s, d) =>
      // A3/A6 stand-in: algorithm-defined (feature hashing), no SQL oracle;
      // covered by FunctionSpec properties + downstream flagship determinism.
      // The result projects the embedding to sortable SCALARS (norm + leading
      // components, rounded) — the driver's rows-only canonicalization cannot
      // hash a raw ARRAY<FLOAT> column (ADVICE r1).
      Tables.documents(s, d)
        .select(col("doc_id"), feature_hash_embed(col("text"), 64).as("embedding"))
        .select(
          col("doc_id"),
          round(vector_norm(col("embedding")), 4).as("nrm"),
          round(element_at(col("embedding"), 1).cast("double"), 5).as("e0"),
          round(element_at(col("embedding"), 2).cast("double"), 5).as("e1"),
          round(element_at(col("embedding"), 3).cast("double"), 5).as("e2"),
          round(element_at(col("embedding"), 4).cast("double"), 5).as("e3"),
          expr("aggregate(embedding, 0, (acc, x) -> acc + if(x != 0f, 1, 0))")
            .as("nnz"))
        .orderBy("doc_id")
    },

    Q("dedup_exact",
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Exact dedup, keep-first by doc_id. At 100 TB: a single hash
      // shuffle on md5(text) — the canonical exact-dedup plan.
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .where(col("rn") === 1)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },

    // MMR re-rank (maximal marginal relevance, λ=0.7): diversity-aware
    // selection of 5 from the exact top-20 candidates — the standard
    // retrieval step between k-NN and context assembly. The candidate set
    // is O(k') BY CONSTRUCTION (distributed TakeOrdered), so the
    // inherently sequential greedy runs inside ONE task via
    // mapPartitions on the coalesced candidates — same bounded-small-side
    // pattern as broadcast centroids, no driver collect. Greedy-defined →
    // no SQL oracle; RetrievalSpec replays the greedy independently.
    Q.noOracle("rag_mmr_rerank") { (s, d) =>
      val probe = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(col("embedding").as("probe"))
      val cand = Tables.embeddings(s, d).crossJoin(broadcast(probe))
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          cosine_sim(col("embedding"), col("probe")).as("rel"))
        .orderBy(col("rel").desc, col("vec_id"))
        .limit(20)
      mmrSelect(cand, k = 5, lambda = 0.7)
    },
  )

  /** Flagship end-to-end query (`SparkEntry.entry`): the reference's full
    * A5–A11 semantic chain as ONE DataFrame program over sf0.001 with zero
    * network — embed the corpus + the question (feature hashing), exact
    * cosine top-10, score-ordered context, prompt render, extractive mock
    * answer (first sentence of the best match — deterministic stand-in for
    * the chat call at RAG.java:87-98).
    */
  def flagship(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        feature_hash_embed(col("text"), 64).as("embedding"))
    val q = s.range(1).select(
      lit(FixedQuestion).as("question"),
      feature_hash_embed(lit(FixedQuestion), 64).as("qvec"))
    answerTail(docs.crossJoin(broadcast(q))
      .select(col("question"), col("doc_id"), col("text"),
        cosine_sim(col("embedding"), col("qvec")).as("score"))
      .where(col("score") >= 0.0)
      .groupBy(col("question"))
      .agg(top_k(col("score"), col("doc_id"), 10, col("text")).as("top")))
  }
}
