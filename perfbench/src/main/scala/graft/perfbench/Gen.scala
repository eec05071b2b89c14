package graft.perfbench

import graft.{Q, SparkEntry}

/** Seeded input generator. Everything a run feeds the engine is drawn
  * here from `seed` and the fixture `documents` vocabulary, so the same
  * seed gives the same knowledge lines, planted facts, questions,
  * query sample and its order.
  *
  * A planted fact reads `The <a> <b> <c> is <d>.` and its question
  * `What is the <a> <b> <c>?`: five of the question's six tokens are the
  * fact's, while ordinary knowledge lines are long bags of the same
  * vocabulary, so the fact is the question's best match.
  */
final class Gen(seed: Long, vocab: IndexedSeq[String]) {
  private val rnd = new scala.util.Random(seed)
  private val subjectWords = vocab.filter(w => w.length >= 3 && w != "the")

  /** The embedding bucket a word sets in the engine's 64-dim signed
    * feature hash (the one `Streams.ingest` and `answerBatch` use).
    */
  private def bucket(w: String): Int = {
    val v = graft.functions.VectorKernels.featureHashEmbed(w, 64, 42L)
    (0 until 64).find(v.getFloat(_) != 0f).get
  }

  // Every ordered triple of subject words, in seeded order, so fact
  // subjects never repeat within a run. A triple is kept only if its
  // words and the question's `what is the` hash to six distinct buckets:
  // words sharing a bucket add or cancel (`query` and `row` cancel), and
  // a question whose words cancel cannot single out its fact.
  private val subjects: Iterator[(String, String, String)] = {
    val fixed = Seq("what", "is", "the").map(bucket)
    val b = subjectWords.map(w => w -> bucket(w)).toMap
    rnd.shuffle(
      for {
        x <- subjectWords; y <- subjectWords; z <- subjectWords
        if (fixed ++ Seq(b(x), b(y), b(z))).distinct.size == 6
      } yield (x, y, z)).iterator
  }

  private def word(): String = vocab(rnd.nextInt(vocab.size))

  private def sentence(n: Int): String = {
    val w = Seq.fill(n)(word())
    (w.head.capitalize +: w.tail).mkString(" ") + "."
  }

  /** One ordinary knowledge line: one or two sentences of 6 to 20 words. */
  def knowledgeLine(): String =
    Seq.fill(1 + rnd.nextInt(2))(sentence(6 + rnd.nextInt(15))).mkString(" ")

  /** A planted fact line and the question that must retrieve it. */
  def fact(): Fact = {
    val (a, b, c) = subjects.next()
    Fact(s"The $a $b $c is ${word()}.", s"What is the $a $b $c?")
  }

  /** A question with no planted answer: a short bag of vocabulary words. */
  def freeQuestion(): String = Seq.fill(3 + rnd.nextInt(5))(word()).mkString(" ") + "?"

  /** `nLines` knowledge lines with `nFacts` planted facts at seeded places. */
  def corpus(nLines: Int, nFacts: Int): (Seq[String], Seq[Fact]) = {
    val facts = Seq.fill(nFacts)(fact())
    val lines = rnd.shuffle(
      Seq.fill(nLines - nFacts)(knowledgeLine()) ++ facts.map(_.line))
    (lines, facts)
  }

  /** A batch of `n` distinct questions: about half ask for a planted fact
    * drawn from `facts`, the rest are free questions.
    */
  def questions(n: Int, facts: IndexedSeq[Fact]): Seq[Question] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Question]
    while (out.size < n) {
      val q =
        if (facts.nonEmpty && rnd.nextBoolean()) {
          val f = facts(rnd.nextInt(facts.size))
          Question(f.question, Some(f.line))
        } else Question(freeQuestion(), None)
      out.getOrElseUpdate(q.text, q)
    }
    out.values.toSeq
  }

  /** A cost-stratified sample of `n` queries in seeded order: the
    * queries, sorted by recorded cost, are cut into `n` equal strata and
    * each stratum gives its middle query. Only the order depends on the
    * seed: letting the seed pick among a stratum's neighbours moved a
    * run's p90 by up to half, as neighbours in recorded cost can differ
    * in timed cost.
    */
  def querySample(costs: Seq[(Q, Double)], n: Int): Seq[Q] = {
    val sorted = costs.sortBy { case (q, c) => (c, q.name) }.map(_._1).toIndexedSeq
    require(sorted.size >= n, s"${sorted.size} queries for $n strata")
    rnd.shuffle((0 until n).map(s => sorted(((s + 0.5) * sorted.size / n).toInt)))
  }
}

final case class Fact(line: String, question: String)
final case class Question(text: String, fact: Option[String])

object Gen {
  /** The fixture vocabulary: the distinct words of `documents.text`. */
  def vocabulary(spark: org.apache.spark.sql.SparkSession, dataDir: String)
      : IndexedSeq[String] = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$dataDir/documents.parquet")
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .where(length(col("w")) > 0).distinct()
      .collect().map(_.getString(0)).sorted.toIndexedSeq
  }

  /** The declared queries minus the streaming, source and sink queries,
    * whose cost is stream start-up (measured by rag_ingest instead).
    */
  def analyticsQueries: Seq[Q] = SparkEntry.all.filterNot(q => isStreamStart(q.name))

  private def isStreamStart(name: String): Boolean =
    Seq("stream_", "source_", "sink_").exists(name.startsWith)
}
