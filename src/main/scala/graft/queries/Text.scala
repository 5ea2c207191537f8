package graft.queries

import graft.Tables
import graft.operators.{SectionChunker, TextAnalysis => TA}
import graft.sources.{SampleCorpus, Sources}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text pipeline queries over `documents` (SURVEY.md §2.4, M2): scan+filter,
  * cleaning, tokenization, exact dedup, header extraction. All built-ins
  * (codegen'd string/regex functions) — filters and projections reach the
  * parquet scan.
  */
object Text {

  /** English docs with ≥200 chars (pushed-down scan filter). */
  def docScanFilter(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .where(col("lang") === "en" && col("n_chars") >= 200)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id").asc)

  /** Text + filename sanitize (reference `secure_filename` analog,
    * `app.py:75` + header canonicalization lowercase, `rag_model.py:28`).
    */
  def docCleanProject(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", "").as("clean_text"),
        regexp_replace(col("source"), "[^A-Za-z0-9_.-]", "_").as("clean_source"))
      .orderBy(col("doc_id").asc)

  /** Top-20 tokens by frequency (whitespace tokenization; ties by word). */
  def docTokensTop20(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(20)

  /** Exact dedup by content hash: md5(text) groups, canonical doc = min id.
    * At 100 TB this is the standard first dedup pass — one shuffle on the
    * 128-bit hash, no text comparison.
    */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("text_md5").asc)

  /** First canonical section-header alias appearing in each doc (C2's
    * header-alias table as a whole-word regexp_extract; Java∩RE2 subset).
    */
  def sectionExtract(s: SparkSession, d: String): DataFrame = {
    val aliases = SectionChunker.sectionPatterns.map(_._2).mkString("|")
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract(lower(col("text")), s"\\b($aliases)\\b", 1).as("first_header"))
      .orderBy(col("doc_id").asc)
  }

  /** PII redaction, oracled: the synthetic corpus carries no PII, so the
    * query first SEEDS deterministic PII spans derived from doc_id (an
    * email, an IPv4, an SSN-shaped serial) into the text — both engines
    * build the identical seeded text — then runs the sequential
    * redact + per-kind attribution counts (TextAnalysis.redactPii /
    * piiCounts: each pattern counted on the text AFTER earlier patterns'
    * redaction, so overlapping spans are attributed exactly once).
    */
  def piiRedact(s: SparkSession, d: String): DataFrame = {
    val seeded = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@mail.example.com via 10.0."),
      (col("doc_id") % 256).cast("string"), lit(".7 ref 123-45-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val counts = TA.piiCounts(seeded)
    Tables.documents(s, d)
      .select(col("doc_id"), TA.redactPii(seeded).as("redacted"),
        element_at(counts, "email").as("n_email"),
        element_at(counts, "ssn").as("n_ssn"),
        element_at(counts, "phone").as("n_phone"),
        element_at(counts, "ipv4").as("n_ipv4"))
      .orderBy(col("doc_id").asc)
  }

  /** S1/S2 driver-checked end-to-end: binaryFile-scan the generated
    * [[SampleCorpus]] (PDFs across the filter surface incl. an
    * ASCII85+Flate chain, a DOCX with header/footer parts, a TXT)
    * through `Sources.loadDocuments`, project (file_name, n_chars,
    * md5). The oracle recomputes both from the corpus's expected-text
    * contract, so a parser regression on ANY format/filter fails the
    * correctness gate, not just a unit spec.
    */
  def binaryIngest(s: SparkSession, d: String): DataFrame =
    Sources.loadDocuments(s, SampleCorpus.ensure())
      .select(col("file_name"), length(col("text")).cast("long").as("n_chars"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy(col("file_name").asc)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_binary_ingest" -> binaryIngest,
    "q_pii_redact" -> piiRedact,
    "q_doc_scan_filter" -> docScanFilter,
    "q_doc_clean_project" -> docCleanProject,
    "q_doc_tokens_top20" -> docTokensTop20,
    "q_dedup_exact" -> dedupExact,
    "q_section_extract" -> sectionExtract,
  )

  private val aliasesSql: String =
    SectionChunker.sectionPatterns.map(_._2.stripPrefix("(").stripSuffix(")")).mkString("|")

  /** Chained sequential redaction mirroring piiCounts/redactPii, generated
    * from the same piiPatterns list (single source of truth): step i
    * counts pattern i on the text AFTER steps 0..i-1 redacted theirs.
    */
  private val piiRedactSql: String = {
    val seeded = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@mail.example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR) || " +
      "'.7 ref 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    val steps = TA.piiPatterns.zipWithIndex.map { case ((name, pat), i) =>
      val carried = TA.piiPatterns.take(i).map { case (n, _) => s"n_$n, " }.mkString
      val src = if (i == 0) "t0" else s"s${i - 1}"
      s"s$i AS (SELECT doc_id, ${carried}CAST(len(regexp_extract_all(t, '$pat')) AS BIGINT) AS n_$name, " +
        s"regexp_replace(t, '$pat', '[$name]', 'g') AS t FROM $src)"
    }
    val last = s"s${TA.piiPatterns.size - 1}"
    val countCols = TA.piiPatterns.map { case (n, _) => s"n_$n" }.mkString(", ")
    s"WITH t0 AS (SELECT doc_id, $seeded AS t FROM documents),\n" +
      steps.mkString(",\n") +
      s"\nSELECT doc_id, t AS redacted, $countCols FROM $last ORDER BY doc_id ASC"
  }

  /** VALUES-only oracle: DuckDB recomputes length + md5 from the
    * corpus's expected texts (newlines as chr(10) so no escaping).
    */
  private val binaryIngestSql: String = {
    val rows = SampleCorpus.expected.map { case (name, text) =>
      val lit = text.split("\n", -1).map(l => s"'$l'").mkString(" || chr(10) || ")
      s"('$name', $lit)"
    }.mkString(",\n  ")
    s"""SELECT file_name, CAST(length(t) AS BIGINT) AS n_chars, md5(t) AS text_md5
       |FROM (VALUES $rows) v(file_name, t)
       |ORDER BY file_name ASC""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_binary_ingest" -> binaryIngestSql,
    "q_pii_redact" -> piiRedactSql,
    "q_doc_scan_filter" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE lang = 'en' AND n_chars >= 200 ORDER BY doc_id ASC""".stripMargin,
    "q_doc_clean_project" ->
      """SELECT doc_id,
        |  regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS clean_text,
        |  regexp_replace(source, '[^A-Za-z0-9_.-]', '_', 'g') AS clean_source
        |FROM documents ORDER BY doc_id ASC""".stripMargin,
    "q_doc_tokens_top20" ->
      """SELECT word, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word
        |ORDER BY cnt DESC, word ASC LIMIT 20""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, MIN(doc_id) AS canonical_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY text_md5 ASC""".stripMargin,
    "q_section_extract" ->
      s"""SELECT doc_id,
         |  regexp_extract(lower(text), '\\b($aliasesSql)\\b', 1) AS first_header
         |FROM documents ORDER BY doc_id ASC""".stripMargin,
  )
}
