package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable text primitives for the LLM-data-pipeline operators
  * (dedup, near-dup, fingerprinting, text stats — builder brief; design
  * rationale in SURVEY.md §7.2 step 11).
  *
  * Every primitive here has a DuckDB SQL mirror (the `sql*` members) that
  * is bit-identical to the Spark column expression, so the driver's
  * DuckDB-oracle gate can verify the full chain:
  *
  *  - hashing goes through md5 (identical hex output on both engines) and
  *    parses a 15-hex-digit prefix into a 60-bit non-negative long —
  *    avoiding Spark's murmur `hash`/`xxhash64` and DuckDB's `hash`,
  *    which are different algorithms;
  *  - MinHash permutations are `(a·h + b) mod P` with `P = 2^31-1` and
  *    `a,b < P` generated once in Scala and interpolated into BOTH the
  *    Spark plan and the SQL text — products stay < 2^62 (no overflow);
  *  - double accumulation is a LEFT FOLD on both sides (Spark `aggregate`
  *    with 0.0 init vs DuckDB `list_reduce`; `0.0 + v == v` exactly in
  *    IEEE, so the two fold shapes agree bit-for-bit).
  *
  * All of it is per-row column work (whole-stage codegen, no UDFs, no
  * shuffles) — at 100 TB the only shuffles in the dedup/similarity
  * pipelines are the band-bucket joins downstream.
  *
  * PERFORMANCE CONTRACT: pass ATTRIBUTE columns (staged through a
  * `select(... .as("toks"))` projection), not expression trees, into the
  * array-consuming functions here. Spark's higher-order functions are
  * interpreted and re-evaluate any expression subtree embedded in a
  * lambda once per array element; an attribute reference is a O(1)
  * bound-reference lookup, and CollapseProject will not inline an
  * expensive alias that is referenced more than once. Violating this
  * turns a linear winnow into O(n²) md5 evaluations (measured 242 s vs
  * 1.5 s at sf0.1 — see Dedup.minhashSignatures / q32).
  */
object TextFns {

  /** Modulus for MinHash permutations: the Mersenne prime 2^31-1. */
  val HashMod: Long = 2147483647L

  // ---------------------------------------------------------------- hash

  /** 60-bit portable hash: value of the first 15 hex digits of md5. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  def sqlHash60(x: String): String =
    s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  def sqlHashMod(x: String): String = s"(${sqlHash60(x)} % $HashMod)"

  // ------------------------------------------------------------- tokens

  /** Whitespace tokenization (reference-free; mirrors the usual LLM-prep
    * `text.split()` convention). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def sqlTokens(x: String): String =
    s"string_split_regex(trim($x), '\\s+')"

  // -------------------------------------------------------------- scrub

  /** Terms are regex-quoted (`\Q…\E`, honored by both Java regex and
    * RE2) so metacharacters in a denylist entry ("c++", "acme.com")
    * can't break or widen the pattern. */
  private def denyRe(terms: Seq[String]): String =
    terms.map(java.util.regex.Pattern.quote).mkString("\\b(", "|", ")\\b")

  /** Escape a string for interpolation into a single-quoted SQL literal. */
  private def sqlQuote(s: String): String = s.replace("'", "''")

  /** Denylist entity scrub: replace whole-word occurrences of `terms`
    * with `token` (regexp word boundaries — Java regex and RE2 agree on
    * `\b` for alphanumeric terms, so the DuckDB mirror is exact). A
    * single-token replacement keeps downstream whitespace token counts
    * comparable. Pure map — no shuffle, pushdown-safe. */
  def redactDenylist(text: Column, terms: Seq[String], token: String): Column =
    regexp_replace(text, denyRe(terms), token)

  /** Number of denylist hits in the unscubbed text. */
  def redactCount(text: Column, terms: Seq[String]): Column =
    size(regexp_extract_all(text, lit(denyRe(terms)), lit(0)))

  def sqlRedactDenylist(x: String, terms: Seq[String], token: String): String =
    s"regexp_replace($x, '${sqlQuote(denyRe(terms))}', '${sqlQuote(token)}', 'g')"

  def sqlRedactCount(x: String, terms: Seq[String]): String =
    s"len(regexp_extract_all($x, '${sqlQuote(denyRe(terms))}'))"

  /** Token n-gram shingles as strings ("tok1 tok2 tok3"). Empty array when
    * the doc has fewer than n tokens (guards sequence() against negative
    * spans). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  def sqlShingles(toksExpr: String, n: Int): String =
    s"""list_transform(range(0, greatest(len($toksExpr) - ${n - 1}, 0)),
        i -> array_to_string(list_slice($toksExpr, i + 1, i + $n), ' '))"""

  /** Occurrence count of a token array's mode (its most frequent
    * element); 0 for an empty or null array. The repetition-quality
    * signal `mode_count / n` is the "top word covers too much of the
    * doc" rule of corpus curation. The native codegen'd
    * [[graft.functions.ModeCount]] kernel — one O(n) hash-count pass
    * per row (bit-identical to [[modeCountFold]], the parity witness,
    * which is O(distinct × n) interpreted). */
  def modeCount(toks: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      ModeCount(org.apache.spark.sql.graft.Bridge.expression(toks)))

  /** The nested-HOF formulation modeCount replaced (interpreted — for
    * each distinct token, count its occurrences, take the max). Kept as
    * the independent witness for ModeCount's parity spec. */
  def modeCountFold(toks: Column): Column =
    coalesce(
      array_max(transform(array_distinct(toks),
        d => size(filter(toks, t => t === d)))),
      lit(0))

  /** DuckDB rendering of [[modeCount]] (same nested-lambda shape). */
  def sqlModeCount(toksExpr: String): String =
    s"""coalesce(list_max(list_transform(list_distinct($toksExpr),
        d -> len(list_filter($toksExpr, t -> t = d)))), 0)"""

  /** Shingle hashes mod P (the MinHash input universe) — the native
    * fused [[graft.functions.ShingleHashes]] expression (bit-identical
    * to [[shingleHashesFold]], the parity witness). */
  def shingleHashes(toks: Column, n: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      ShingleHashes(org.apache.spark.sql.graft.Bridge.expression(toks), n, HashMod))

  /** The HOF formulation shingleHashes replaced (interpreted transform
    * + hex-string hash). Kept as the parity-spec witness. */
  def shingleHashesFold(toks: Column, n: Int): Column =
    transform(shingles(toks, n), s => hash60(s) % HashMod)

  /** Raw (un-modded) 60-bit hash per token — `transform(toks, hash60)`
    * as the same native kernel (n=1 shingle = the token itself; mod=0
    * skips the reduction). NULL tokens hash as the empty string here
    * where the transform form yields null — whitespace tokenization
    * never produces null tokens, and the q26 gate pins the parity. */
  def tokenHashes(toks: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      ShingleHashes(org.apache.spark.sql.graft.Bridge.expression(toks), 1, 0L))

  def sqlShingleHashes(toksExpr: String, n: Int): String =
    s"""list_transform(${sqlShingles(toksExpr, n)}, s -> ${sqlHashMod("s")})"""

  /** Un-modded 60-bit shingle hashes, position-ordered — for operators
    * that key on shingle IDENTITY (duplicate-span detection) rather
    * than feed a MinHash universe: P = 2^31-1 birthday-collides at
    * ~10^5 shingles per equality domain, far below corpus scale, while
    * 2^60 holds to ~10^9. Same native kernel, mod=0 skips the
    * reduction. */
  def shingleHashes60(toks: Column, n: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      ShingleHashes(org.apache.spark.sql.graft.Bridge.expression(toks), n, 0L))

  def sqlShingleHashes60(toksExpr: String, n: Int): String =
    s"""list_transform(${sqlShingles(toksExpr, n)}, s -> ${sqlHash60("s")})"""

  // ------------------------------------------------------------ minhash

  /** Deterministic permutation constants (a_i odd-ish, b_i arbitrary, both
    * in [1, P)). Generated once here; interpolated into SQL by the query
    * layer so both engines share the exact numbers. */
  def permA(i: Int): Long = ((2L * i + 1) * 1299721L + 15485863L) % HashMod
  def permB(i: Int): Long = ((i + 1L) * 7919L * 104729L + 32452843L) % HashMod

  /** DuckDB mirror of the MinHash signature (the Spark side lives in
    * [[graft.operators.Dedup.minhashSignatures]] as an explode+min-agg —
    * see the scale note there; the per-row fold form is only efficient in
    * the oracle, which evaluates each list once). */
  def sqlMinhashSignature(hsExpr: String, numHashes: Int): String =
    (0 until numHashes).map { i =>
      s"""list_aggregate(list_transform($hsExpr,
          h -> (${permA(i)} * h + ${permB(i)}) % $HashMod), 'min')"""
    }.mkString("[", ", ", "]")

  // ------------------------------------------------------------ simhash

  /** 32-bit SimHash over a token-hash array column: bit j is set iff the
    * signed count of hashes with bit j set exceeds the count of those
    * without.
    *
    * The native codegen'd [[graft.functions.SimHash32]] expression: one
    * loop, one on-stack counter array per row, the input column
    * referenced exactly once. Per-row and shuffle-free — the right shape
    * at 100 TB. */
  def simhash32(hs: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      SimHash32(org.apache.spark.sql.graft.Bridge.expression(hs)))

  /** Unicode NFC normalization (native [[graft.functions.NfcNormalize]]
    * kernel; ASCII rows pass through untouched). */
  def nfcNormalize(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      NfcNormalize(org.apache.spark.sql.graft.Bridge.expression(c)))

  /** Accent stripping — NFD + drop combining marks, no recomposition
    * (native [[graft.functions.StripAccents]] kernel, DuckDB
    * `strip_accents` semantics). */
  def stripAccents(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      StripAccents(org.apache.spark.sql.graft.Bridge.expression(c)))

  /** Canonical dedup key: NFC → lowercase → strip accents → collapse
    * whitespace runs → trim. Byte-distinct encodings of the same text
    * (composed vs decomposed, case, accent, spacing variants) land on
    * ONE key, so digest-grouping dedup stops splitting duplicate pairs
    * across buckets. Order matters and is pinned by the oracle:
    * `trim(regexp_replace(strip_accents(lower(nfc_normalize(x))),
    * '\s+', ' ', 'g'))`. */
  def canonKey(c: Column): Column =
    trim(regexp_replace(stripAccents(lower(nfcNormalize(c))),
      lit("\\s+"), lit(" ")))

  /** The HOF formulation simhash32 replaced (interpreted; allocates a
    * 32-element counter array per token). Kept as the independent
    * witness for SimHash32's parity spec. */
  def simhash32Fold(hs: Column): Column = {
    val masks = array((0 until 32).map(j => lit(1L << j)): _*)
    val counts = aggregate(hs, array_repeat(lit(0L), 32),
      (acc, h) => zip_with(acc, masks,
        (a, m) => a + when(h.bitwiseAND(m) =!= 0, 1L).otherwise(-1L)))
    aggregate(zip_with(counts, masks, (c, m) => when(c > 0, m).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
  }

  def sqlSimhash32(hsExpr: String): String =
    (0 until 32).map { j =>
      val mask = 1L << j
      s"""CASE WHEN list_sum(list_transform($hsExpr,
          h -> CASE WHEN (h & $mask) <> 0 THEN 1 ELSE -1 END)) > 0
          THEN $mask ELSE 0 END"""
    }.mkString("CAST((", " + ", ") AS BIGINT)")

  // -------------------------------------------------------- fingerprint

  /** Winnowing document fingerprint: min shingle-hash per sliding window
    * of w consecutive shingle positions, deduplicated and sorted. The
    * classic Schleimer/Wilkerson/Aiken scheme, per-row.
    *
    * Shape matters: the obvious `transform(sequence(0, n-w), i ->
    * array_min(slice(hs, i+1, w)))` embeds `hs` INSIDE the lambda, and
    * interpreted higher-order functions re-evaluate the embedded subtree
    * per element — O(n²) md5 evaluations per document (measured 242 s at
    * sf0.1). Instead: element-wise min of the w shifted copies of hs via
    * a zip_with chain — hs is referenced w+1 times total (per ROW, not
    * per element), each zip_with is one linear pass. */
  def winnow(shingleHs: Column, w: Int): Column = {
    val n = size(shingleHs)
    val span = n - (w - 1)
    val chain = (1 until w).foldLeft(slice(shingleHs, lit(1), span)) {
      (acc, k) => zip_with(acc, slice(shingleHs, lit(k + 1), span),
        (a, b) => least(a, b))
    }
    when(n >= w, array_sort(array_distinct(chain)))
      .otherwise(when(n > 0, array(array_min(shingleHs)))
        .otherwise(array().cast("array<bigint>")))
  }

  def sqlWinnow(hsExpr: String, w: Int): String =
    s"""CASE WHEN len($hsExpr) >= $w THEN
          list_sort(list_distinct(list_transform(range(0, len($hsExpr) - ${w - 1}),
            i -> list_aggregate(list_slice($hsExpr, i + 1, i + $w), 'min'))))
        WHEN len($hsExpr) > 0 THEN [list_aggregate($hsExpr, 'min')]
        ELSE [] END"""
}
