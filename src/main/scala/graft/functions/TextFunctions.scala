package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level text-analysis primitives for the LLM-data pipeline
  * (SURVEY.md §2 "Text analysis"). Everything here is built from
  * codegen'd built-in functions — no UDFs — so the expressions stay
  * inside whole-stage codegen and run row-local (zero shuffle): at
  * 100 TB these are pure map-side scans.
  *
  * The reference's text surface is the `overview` column
  * (/root/reference/sql/01_schema.sql:14); these generalize it to
  * corpus-scale quality/language/token statistics.
  *
  * Cross-engine determinism rules (the DuckDB oracle must match
  * bit-for-bit): only integer outputs or FLOOR(100.0*a/b) ratios —
  * IEEE division of exact small ints is identical across engines;
  * token operations defined on a single canonical normalization.
  */
object TextFunctions {

  /** Canonical normalization: lowercase, trim, collapse whitespace.
    * DuckDB mirror: lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
    */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** Count of tokens that appear in `words` (language-marker /
    * stopword counting). DuckDB mirror:
    * len(list_filter(string_split(norm, ' '), x -> x IN (...)))
    *
    * Prefer [[markerCountIn]] when computing several marker counts
    * over the same text: this form re-tokenizes per call.
    */
  def markerCount(c: Column, words: Seq[String]): Column =
    size(filter(tokens(c), x => x.isin(words: _*))).cast("long")

  /** [[markerCount]] over an already-tokenized array column — use with
    * a projected `tokens(...)` attribute so the normalize+split scan
    * runs once per row however many marker sets are counted.
    */
  def markerCountIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => x.isin(words: _*))).cast("long")

  /** floor(100*a/b) as BIGINT — the cross-engine-safe integer ratio.
    * DuckDB mirror: CAST(FLOOR(100.0*a/b) AS BIGINT)
    */
  def ratioX100(a: Column, b: Column): Column =
    floor(lit(100.0) * a / b).cast("long")

  /** Whitespace token count. */
  def wsTokenCount(c: Column): Column = wsTokenCountOfNorm(normText(c))

  /** [[wsTokenCount]] over an ALREADY-normalized column — use with a
    * projected [[normText]] attribute so one normalize pass feeds
    * every token expression of a row.
    *
    * Computed as space-count + 1 (r22), not `size(split(norm, " "))`:
    * split on a single-char pattern with no limit always yields
    * exactly (#separators + 1) pieces — including the empty-string
    * edge (split("") = [""], 0+1 = 1) and null→null — so the two
    * forms are value-identical on EVERY string, while split
    * materializes the token array only to count it. translate+length
    * is a codegen'd byte scan with zero allocation. Callers that
    * consume the token array itself still split once and take
    * `size(toks)` on the existing array.
    */
  def wsTokenCountOfNorm(norm: Column): Column =
    (length(norm) - length(translate(norm, " ", "")) + 1).cast("long")

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * other non-space chars — the classic pre-tokenizer split. DuckDB
    * mirror: len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
    */
  def bpeTokenCount(c: Column): Column = bpeTokenCountOfNorm(normText(c))

  /** [[bpeTokenCount]] over an ALREADY-normalized column. The ONE
    * definition of the BPE-ish pre-tokenizer — every operator that
    * counts tokens must route here (or through [[bpeTokenCount]]) so
    * "token" keeps meaning one thing engine-wide.
    *
    * Routed through the native [[graft.functions.RegexpCountLong]]
    * kernel (r22), not `size(regexp_extract_all(...))` — and not
    * Spark's `regexp_count`, which is RuntimeReplaceable sugar for
    * exactly that size(extract_all) form: both count the same
    * non-overlapping leftmost matches (null in → null out), but
    * extract_all materializes every matched token as a string in an
    * array only for `size` to throw it away — on the token-counting
    * keys that array build was the dominant row-local allocation. The
    * kernel runs the identical java.util.regex matcher loop with a
    * bare counter inside whole-stage codegen.
    */
  def bpeTokenCountOfNorm(norm: Column): Column =
    regexpCountNative(norm, "[a-z]+|[0-9]+|[^a-z0-9 ]")

  /** Native match count ([[graft.functions.RegexpCountLong]]) as a
    * Column — value-identical to `size(regexp_extract_all(c, pat))`
    * on every input, without materializing the match array. Resolves
    * through the session registry; registered by GraftExtensions at
    * session build, and defensively re-registered here off the active
    * (else default) session for foreign sessions built without the
    * extension. With no session at all the Column is still built.
    */
  def regexpCountNative(c: Column, pattern: String): Column = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(graft.plans.GraftFunctions.ensureRegistered)
    call_function("graft_regexp_count", c, lit(pattern))
  }

  /** Canonical document fingerprint: the sorted distinct-token key
    * (fingerprint clustering à la OpenRefine). Two documents with the
    * same token set — any order, any duplication, any whitespace —
    * collide. DuckDB mirror:
    * array_to_string(list_sort(list_distinct(string_split(norm,' '))),' ')
    */
  def fingerprintKey(c: Column): Column =
    array_join(array_sort(array_distinct(tokens(c))), " ")
}
