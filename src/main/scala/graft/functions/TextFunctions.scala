package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders — every function here composes Spark
  * built-in expressions (codegen'd, whole-stage-fusable), never Scala UDFs,
  * so plans stay inside WholeStageCodegen and Catalyst can prune/push.
  *
  * Reference has no text ops (SURVEY.md §2.5 "Text analysis"); these are
  * the LLM-training-pipeline extensions the north star asks for.
  */
object TextFunctions {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " ")

  /** Lowercase + trim + collapse runs of whitespace: canonical form for
    * content fingerprinting/dedup.
    */
  def normalize(text: Column): Column =
    regexp_replace(trim(lower(text)), " +", " ")

  /** English-ish stopword list used by the language-ID heuristic and the
    * quality score (kept tiny + explicit so the DuckDB oracle can inline
    * the same list).
    */
  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Count of stopword tokens (built-in `filter` higher-order function). */
  def stopwordHits(toks: Column): Column =
    size(filter(toks, t => t.isin(StopWords: _*)))

  /** BPE-ish regex token count: word pieces, digit runs, single
    * punctuation. Pattern restricted to Java-regex ∩ RE2 constructs so the
    * oracle matches.
    */
  val PieceTokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def pieceTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PieceTokenPattern), lit(0)))

  /** Content fingerprint: md5 of the normalized text (md5 is identical in
    * every engine, unlike murmur/xxhash which are Spark-specific).
    */
  def fingerprint(text: Column): Column = md5(normalize(text).cast("binary"))
}
