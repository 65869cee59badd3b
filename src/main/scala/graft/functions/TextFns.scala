package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, fingerprinting.
  *
  * Everything here is composed Spark built-ins (codegen-friendly, no UDFs),
  * so Catalyst keeps whole-stage codegen and the same expression tree runs
  * unchanged on a 1000-executor cluster — per-row work, no shuffle.
  */
object TextFns {

  /** Whitespace tokens, lowercased, empties dropped. NB splits on Java
    * `\s` (ASCII whitespace) only — NBSP is deliberately NOT a separator
    * here, unlike the type-inference trimbag: the DuckDB oracles use RE2
    * `\s` with identical ASCII semantics, keeping tokenization cross-engine
    * exact. The empties (from a leading or trailing separator) drop through
    * the native `array_remove`: `split` never yields a null element, so it
    * removes exactly the empty tokens. */
  def tokens(c: Column): Column =
    array_remove(split(lower(c), "\\s+"), "")

  /** Whitespace token count. `regexp_count` of non-space runs ≡ counting
    * [[tokens]]' non-empty splits, but stays codegen'd and never
    * materializes the token array (this count sits under quality_score and
    * pipeline_e2e — per-row hot path). */
  def tokenCount(c: Column): Column = regexp_count(c, lit("\\S+")).cast(LongType)

  /** BPE-ish token count: letter runs, single digits, single punctuation —
    * a cheap proxy for byte-pair-encoding token counts. */
  val BpeIshPattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"
  def bpeTokenCount(c: Column): Column =
    regexp_count(c, lit(BpeIshPattern)).cast(LongType)

  /** One fused scan for every per-row text counter (native codegen'd
    * expression, graft.plans.TextStats): struct<n_chars, n_tokens, n_punct,
    * n_stop, m_en, m_de, m_fr, m_es>. Quality scoring and language ID are
    * arithmetic over these fields; in projections the repeated struct refs
    * collapse to ONE evaluation via whole-stage-codegen subexpression
    * elimination, and in filters use [[qualityLangGate]] (FilterExec has no
    * subexpression elimination — the composed-regex gate was measured at
    * ~20 full-document regex scans per row). */
  def textStats(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.TextStats(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))

  /** Unicode NFC canonicalization (native codegen'd expression,
    * graft.plans.NfcNormalize) — run before tokenize/dedup so composed and
    * decomposed encodings of the same text hash identically. ASCII rows
    * take a byte-scan fast path and are returned untouched. */
  def nfc(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.NfcNormalize(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))

  /** DEFLATE compression ratio (native codegen'd expression,
    * graft.plans.DeflateRatio) — the "too compressible = repetitive
    * boilerplate" quality signal; NULL on null/empty input. JVM-stable but
    * not cross-engine portable, so its queries are rows-only. */
  def deflateRatio(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.DeflateRatio(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))

  private def wordsPattern(words: Seq[String]): String =
    words.mkString("\\b(", "|", ")\\b")

  /** Marker-word regexes for the language-ID heuristic — generated from
    * [[graft.plans.TextStats]]'s word lists so the regex form and the native
    * scan can't drift apart (the spec checks them differentially). */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> wordsPattern(graft.plans.TextStats.EnWords),
    "de" -> wordsPattern(graft.plans.TextStats.DeWords),
    "fr" -> wordsPattern(graft.plans.TextStats.FrWords),
    "es" -> wordsPattern(graft.plans.TextStats.EsWords))

  def markerCount(c: Column, pattern: String): Column =
    regexp_count(lower(c), lit(pattern)).cast(LongType)

  /** Heuristic language ID from a [[textStats]] struct: argmax of marker
    * counts, first listed language wins ties; "und" when nothing matches. */
  def langIdFrom(m: Column): Column = {
    val counts = Seq("en" -> m.getField("m_en"), "de" -> m.getField("m_de"),
      "fr" -> m.getField("m_fr"), "es" -> m.getField("m_es"))
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    counts.foldRight(lit("und")) { case ((lang, cnt), els) =>
      when(cnt === best && best > 0, lit(lang)).otherwise(els)
    }
  }

  def langId(c: Column): Column = langIdFrom(textStats(c))

  /** English stopword ratio — a quality-score component. */
  val StopPattern: String = wordsPattern(graft.plans.TextStats.StopWords)

  /** Punctuation-character count. */
  def punctCount(c: Column): Column =
    regexp_count(c, lit("[^a-zA-Z0-9\\s]")).cast(LongType)

  /** The Gopher rule-battery flags (word-count band, mean-word-length band,
    * symbol ratio, stopword floor) as ONE struct off the fused [[textStats]]
    * scan — the ONE definition shared by the batch `gopher_rules` card and
    * the streaming ingest gate (`stream_gopher_gate`), so the rule
    * thresholds cannot drift between the two surfaces. The word-length band
    * is evaluated as exact integer CROSS-MULTIPLICATIONS (floor(a/b) < k ⟺
    * a < k·b and floor(a/b) > k ⟺ a ≥ (k+1)·b for b > 0), identical to the
    * oracle's `(nonspace·1e6) // nw` form without any division. */
  def gopherFlags(c: Column): Column = {
    val m = textStats(c)
    val nw = m.getField("n_tokens").cast(LongType)
    val b = greatest(nw, lit(1L))
    val nonspace = length(regexp_replace(c, "\\s+", "")).cast(LongType)
    val sym = regexp_count(c, lit("#|\\.\\.\\.|…")).cast(LongType)
    val ns = m.getField("n_stop").cast(LongType)
    struct(
      (nw < 20L || nw > 100000L).as("f_wc"),
      (nonspace * 1000000L < lit(3000000L) * b ||
        nonspace * 1000000L >= lit(10000001L) * b).as("f_wl"),
      (sym * 10L > nw).as("f_sym"),
      (ns < 2L).as("f_stop"))
  }

  /** Document quality score in [0,1] from a [[textStats]] struct: length
    * band + low punctuation + healthy stopword ratio + mean word length
    * band. Deterministic, portable arithmetic (everything through
    * DoubleType). */
  def qualityScoreFrom(m: Column): Column = {
    val nChars = m.getField("n_chars").cast(DoubleType)
    val nToks = m.getField("n_tokens").cast(DoubleType)
    val punctRatio = m.getField("n_punct").cast(DoubleType) / greatest(nChars, lit(1.0))
    val stopRatio = m.getField("n_stop").cast(DoubleType) / greatest(nToks, lit(1.0))
    val meanWordLen = nChars / greatest(nToks, lit(1.0))
    val lenScore = when(nChars >= 100 && nChars <= 10000, 1.0)
      .when(nChars >= 20, 0.5).otherwise(0.0)
    val punctScore = when(punctRatio <= 0.1, 1.0).when(punctRatio <= 0.3, 0.5).otherwise(0.0)
    val stopScore = when(stopRatio >= 0.05 && stopRatio <= 0.6, 1.0).otherwise(0.3)
    val wordScore = when(meanWordLen >= 3.0 && meanWordLen <= 12.0, 1.0).otherwise(0.3)
    round((lenScore * 0.3 + punctScore * 0.2 + stopScore * 0.3 + wordScore * 0.2), 6)
  }

  def qualityScore(c: Column): Column = qualityScoreFrom(textStats(c))

  /** Filter-side quality+language gate, let-bound for FilterExec: the stats
    * struct is computed ONCE per row while building the single-element
    * array, and the lambda's field references are variable reads — without
    * this, every struct-field reference in a filter predicate re-runs the
    * underlying scan (no subexpression elimination in FilterExec). */
  def qualityLangGate(c: Column, minScore: Column, lang: Column): Column =
    element_at(transform(array(textStats(c)), m =>
      qualityScoreFrom(m) >= minScore && langIdFrom(m) === lang), 1)

  /** Canonical text normalization for fingerprinting: lowercase, strip
    * non-alphanumerics, collapse whitespace. */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9\\s]", ""), "\\s+", " "))

  /** Whole-document fingerprint: md5 of the normalized text. */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** Token n-gram shingles (1-based element_at; empty array when the doc is
    * shorter than n).
    *
    * The `toks` expression is LET-BOUND once per row by wrapping it in a
    * single-element array and shingling inside that transform's lambda:
    * higher-order functions re-evaluate any non-variable subtree on every
    * lambda invocation, so shingling `toks` directly re-tokenizes the whole
    * document n times per position (~400× per doc for 8-grams — measured
    * 78s vs 2s on 5k docs). */
  def shingles(toks: Column, n: Int): Column =
    element_at(
      transform(array(toks), t =>
        when(size(t) >= n,
          transform(sequence(lit(1), size(t) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(k => element_at(t, i + k)): _*)))
          .otherwise(array().cast(ArrayType(StringType)))),
      1)

  /** Generator (UDTF-surface) form of [[shingles]]: streams each n-gram as
    * a generated row — no intermediate shingle array, downstream stays in
    * codegen below the GenerateExec. Use where every window is consumed
    * (e.g. substring_dedup's window counting); keep the array form where
    * per-row `array_distinct` avoids a dedupe shuffle (minhash/contamination
    * shingle SETS). Row-identical to `explode(shingles(toks, n))`. */
  def shingleExplode(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.ShingleGenerator(ColumnBridge.expression(toks), n))
  }

  /** Min-hash-of-shingles fingerprint (winnowing-style): the minimum md5
    * prefix over token n-gram shingles — robust to local edits. */
  def minShingleFingerprint(c: Column, n: Int = 4): Column =
    array_min(transform(shingles(tokens(c), n), x => substring(md5(x), 1, 16)))
}
