package graft.operators

import graft.{Q, Tables}
import graft.functions.topKRows
import org.apache.spark.sql.functions._

/** Corpus sampling / splitting / scrubbing — the remaining bread-and-butter
  * ops of a training-data pipeline (alongside dedup and quality scoring):
  * every one is deterministic (content-hash driven, not RNG driven), so a
  * 100 TB job can be re-run, resumed, or audited and always select the
  * same rows — `rand()`-based sampling cannot.
  *
  *  - Bernoulli sampling and split assignment are pure scan-side filters /
  *    projections: no shuffle, fully codegen'd, prune-friendly.
  *  - Stratified take-k shuffles once on the stratum key (at 100 TB: salt
  *    or pre-aggregate if one stratum dominates).
  *  - PII redaction is a per-row projection; shown on an inline relation
  *    because the synthetic corpus contains no PII-shaped text.
  */
object Sampling {

  /** First hex digit of md5 of the row's key — 16 equiprobable,
    * engine-portable buckets (md5 yields the identical hex string in
    * Spark and DuckDB; no shared integer-hash exists across the two).
    */
  private def hexBucket(keyCol: String) =
    substring(md5(col(keyCol).cast("string")), 1, 1)

  private val OracleBucket = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)"

  val defs: Seq[Q] = Seq(

    // Deterministic ~1/8 Bernoulli sample by content-key hash: the same
    // doc is in/out of the sample on every run and every engine.
    Q("sample_hash_bernoulli",
      s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE $OracleBucket IN ('0', '1')
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .where(hexBucket("doc_id").isin("0", "1"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },

    // Stratified downsampling: at most 20 docs per source, chosen by the
    // same hash order everywhere. One shuffle on the stratum key.
    Q("sample_stratified_topk",
      """SELECT source, doc_id, rk FROM (
        |  SELECT source, doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
        |  FROM documents)
        |WHERE rk <= 20
        |ORDER BY source, rk""".stripMargin) { (s, d) =>
      // every row scores 0, so the hash alone orders a stratum
      topKRows(Tables.documents(s, d).select(col("source"), col("doc_id"),
            lit(0).as("score"), md5(col("doc_id").cast("string")).as("h")),
          Seq("source"), "score", "h", 20, "rk")
        .select(col("source"), col("doc_id"), col("rk"))
        .orderBy("source", "rk")
    },

    // Train/valid/test split by hash range (12/16 - 2/16 - 2/16): a pure
    // projection — the assignment travels with the row, no shuffle until
    // the audit aggregation. Integer sums keep the oracle bit-exact.
    Q("split_train_valid_test",
      s"""SELECT split, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS chars FROM (
         |  SELECT CASE WHEN $OracleBucket < 'c' THEN 'train'
         |              WHEN $OracleBucket < 'e' THEN 'valid'
         |              ELSE 'test' END AS split, n_chars
         |  FROM documents)
         |GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(
          when(hexBucket("doc_id") < "c", "train")
            .when(hexBucket("doc_id") < "e", "valid")
            .otherwise("test").as("split"),
          col("n_chars"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .orderBy("split")
    },

    // Weighted sampling-without-replacement (Efraimidis–Spirakis A-ES
    // priority sampling): each doc gets key = u^(1/w) with u a
    // deterministic content-hash uniform and w its token count; the
    // global top-50 keys ARE a weighted sample without replacement —
    // the standard mixture-weighting primitive (sample long docs
    // proportionally more) that `rand()`-based sampling can't make
    // reproducible. Scan-side key projection + TakeOrderedAndProject:
    // no shuffle of the corpus, same selection on every run/engine.
    // Float parity: u = (hash32 + 1) / 2^32 is EXACT (integer-valued
    // operand, power-of-two divisor); 1/w is one correctly-rounded
    // division; pow is the one transcendental → rounded to 8 decimals
    // before ranking (the BM25-idf discipline), with doc_id breaking
    // any residual 8-dp key tie on both engines.
    Q("sample_weighted_priority",
      """WITH k AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS w,
        |    round(pow(
        |      (CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) AS DOUBLE) * 268435456
        |       + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16777216
        |       + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 1048576
        |       + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 65536
        |       + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 4096
        |       + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * 256
        |       + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 8, 1)) - 1)
        |       + 1) / 4294967296,
        |      1.0 / len(string_split(text, ' '))), 8) AS k
        |  FROM documents)
        |SELECT doc_id, w, k FROM k
        |ORDER BY k DESC, doc_id
        |LIMIT 50""".stripMargin) { (s, d) =>
      val w = size(split(col("text"), " "))
      // same 32-bit uniform as the DuckDB digit-sum: Spark parses the 8
      // hex chars directly (conv); both yield the identical integer
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("double")
      Tables.documents(s, d)
        .select(col("doc_id"), w.cast("long").as("w"),
          round(pow((h + 1.0) / lit(4294967296.0),
            lit(1.0) / w.cast("double")), 8).as("k"))
        .orderBy(col("k").desc, col("doc_id"))
        .limit(50)
    },

    // PII scrub: redact emails + phone numbers, count redactions. Inline
    // relation (the synthetic corpus contains no PII-shaped text); the
    // projection itself is the 100 TB operator — scan-side regex, no
    // shuffle. Spark's regexp_replace is global by default; DuckDB needs
    // the explicit 'g' flag — a classic silent-parity trap, pinned here.
    Q("text_pii_redact",
      """SELECT id,
        |  regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+?\d{3}[-. ]\d{3}[-. ]\d{4}', '[PHONE]', 'g') AS redacted,
        |  len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + len(regexp_extract_all(t, '\+?\d{3}[-. ]\d{3}[-. ]\d{4}')) AS n_pii
        |FROM (VALUES
        |  (1, 'Contact alice@example.com or bob.smith+x@mail.co today'),
        |  (2, 'Call 555-123-4567 or +44 20 7946 0958 for support'),
        |  (3, 'No personal data in this row at all'),
        |  (4, 'Mixed: carol@site.org, 123-456-7890, done')) AS v(id, t)
        |ORDER BY id""".stripMargin) { (s, d) =>
      import s.implicits._
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}"
      Seq(
        (1, "Contact alice@example.com or bob.smith+x@mail.co today"),
        (2, "Call 555-123-4567 or +44 20 7946 0958 for support"),
        (3, "No personal data in this row at all"),
        (4, "Mixed: carol@site.org, 123-456-7890, done"))
        .toDF("id", "t")
        .select(col("id"),
          regexp_replace(regexp_replace(col("t"), email, "[EMAIL]"),
            phone, "[PHONE]").as("redacted"),
          (size(regexp_extract_all(col("t"), lit(email), lit(0)))
            + size(regexp_extract_all(col("t"), lit(phone), lit(0))))
            .cast("long").as("n_pii"))
        .orderBy("id")
    },
  )
}
