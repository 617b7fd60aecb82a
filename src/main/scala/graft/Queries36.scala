package graft


/** Thirty-sixth query wave (round 14): the DEPLOY spelling of the
  * passage-RAG capstone — q143's end-to-end context assembly with the
  * probe-side BM25 document-frequency cutoff enabled (q234 measured the
  * cutoff at 2.3× on the retrieval class; q241 measured what it drops:
  * containment@5 = 81.3% on the Zipfian distribution the cutoff targets).
  * q143 stays registered uncut as the audit reference.
  */
object Queries36 {

  /** Passage-RAG serving under the 300000-ppm df cutoff: ranked passages
    * → 48-token context budget → assembled prompt, with the stopword
    * spine dropped from the ranking probe (the prompt TEXT still carries
    * the full passages — the cutoff touches scoring only).
    * [[Queries12.passageContext]] with `maxDfPpm = Some(300000)`. */
  val q243PassageContextCut: Q = (spark, dir) =>
    Queries12.passageContext(spark, dir, maxDfPpm = Some(300000L))

  val q243Sql: String = Queries12.q143SqlWith(Some(300000L))

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q243_passage_context_cut", q243PassageContextCut, q243Sql))
}
