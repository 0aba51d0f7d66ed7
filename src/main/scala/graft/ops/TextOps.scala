package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, stats, stopword/quality scoring, heuristic language ID,
  * and content fingerprinting.
  *
  * Everything here is a pure Catalyst expression over the `documents` table
  * schema (`doc_id, text, lang, source, n_chars`) — per-row, embarrassingly
  * parallel, no shuffle, no UDFs. At 100 TB these run as a single map stage
  * fused into whatever scan feeds them.
  */
object TextOps {

  /** Whitespace tokenization (runs of whitespace, leading/trailing trimmed). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** A small English stopword list (public, standard). */
  val enStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on",
      "for", "with", "as", "at", "by", "be", "this", "that", "are")

  /** Count of tokens that appear in `vocab`. Integer arithmetic — exact. */
  private def vocabHits(toks: Column, vocab: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedlit(vocab), t)))

  /** Sum of token lengths (for mean-token-length style stats). */
  private def totalTokenLen(toks: Column): Column =
    aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)

  /** Document LENGTH HISTOGRAM: token counts bucketed to `bucketWidth`-wide
    * bins — (bucket_lo, n_docs, total_tokens). The length-distribution
    * audit behind every min/max-length filtering decision (what fraction of
    * the corpus would a 50-token floor drop, and how many tokens with it).
    *
    * Scale shape: a per-row projection reduced by one tiny aggregation
    * (#buckets ≈ max_len/bucketWidth rows) with full map-side partials —
    * no sort, no window. Integer arithmetic throughout.
    */
  def lengthHistogram(documents: DataFrame, bucketWidth: Int = 10,
                      textCol: String = "text"): DataFrame = {
    val n = size(tokens(col(textCol)))
    documents
      .select(((n / bucketWidth).cast("int") * bucketWidth).as("bucket_lo"),
        n.as("n"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"))
      .orderBy(col("bucket_lo"))
  }

  /** Per-document stats: char count, token count, distinct tokens,
    * stopword ratio, mean token length. One narrow projection.
    */
  def textStats(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    documents.select(
      col("doc_id"),
      length(col(textCol)).as("n_chars_calc"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct_tokens"),
      (vocabHits(toks, enStopwords).cast("double") / size(toks)).as("stopword_ratio"),
      (totalTokenLen(toks).cast("double") / size(toks)).as("mean_token_len"))
  }

  /** Heuristic quality score in [0,1]: rewards lexical diversity, a natural
    * stopword rate, and reasonable length. Mirrors the length/punct/stopword
    * ratio scoring used in public web-scale corpus filters (e.g. C4/Gopher
    * rules), simplified to a linear blend.
    *
    * `toks` should be a MATERIALIZED token-array column (see
    * [[withQualityScore]]): the blend references it five times, and
    * interpreted higher-order functions re-evaluate an inlined tokenizer
    * per reference.
    */
  private def qualityScore(toks: Column): Column = {
    val nTok = size(toks).cast("double")
    val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
    val stopRatio = vocabHits(toks, enStopwords).cast("double") / nTok
    val lengthScore = least(nTok / lit(100.0), lit(1.0))
    distinctRatio * lit(0.4) + least(stopRatio * lit(5.0), lit(1.0)) * lit(0.3) +
      lengthScore * lit(0.3)
  }

  /** Quality score over a text column with the token array materialized in
    * its own projection first (one tokenizer pass per row).
    */
  def withQualityScore(df: DataFrame, textCol: String = "text",
                       outCol: String = "quality"): DataFrame = {
    val keep = df.columns.map(col).toSeq
    df.select((keep :+ tokens(col(textCol)).as("__toks")): _*)
      .select((keep :+ qualityScore(col("__toks")).as(outCol)): _*)
  }

  /** Character-ENTROPY quality signal — the compressibility proxy web-scale
    * filters use to catch boilerplate, padding and degenerate generation
    * (a document of repeated characters compresses to nothing; natural
    * language sits around 4 bits/char of unigram entropy): per doc,
    * (doc_id, n_chars, distinct_chars, entropy_centibits, low_entropy)
    * where entropy_centibits = floor(100 · H), H the Shannon entropy of
    * the character distribution in bits, and low_entropy flags docs under
    * `lowEntropyCentibits`.
    *
    * Computed ENTIRELY map-side by ONE native codegen expression per row
    * ([[graft.functions.CharEntropyStats]]): sort the code points, sum
    * c·log2 c over the runs in ascending code-point order, floor to
    * centibits. A declarative HOF formulation (array_sort + boundary
    * filter + run zip + fold) is semantically identical but runs
    * interpreted outside whole-stage codegen — measured 10 s at sf0.1 vs
    * sub-second native, which is why this op follows the [[graft.ops.DetHash]]
    * native-expression pattern instead. The centibit floor is the
    * cross-engine contract (the oracle sums the same c·log2 c multiset in
    * a different order; 1e-2 granularity swallows the float noise, the
    * q131 centi-nat pattern). Empty texts report (0, 0, 0, true).
    *
    * Scale shape: one map stage, output one row per doc — the shuffle-free
    * shape every per-doc quality signal here shares ([[textStats]],
    * [[gopherRules]]).
    */
  def charEntropyReport(documents: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id",
                        lowEntropyCentibits: Long = 300L): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val text = col(textCol)
    val stats = bridge.column(
      graft.functions.CharEntropyStats(bridge.expression(text)))
    documents.select(col(idCol).as("doc_id"), length(text).as("n_chars"),
        stats.getField("dc").as("distinct_chars"),
        stats.getField("ecb").as("entropy_centibits"))
      .withColumn("low_entropy", col("entropy_centibits") < lowEntropyCentibits)
  }

  /** Per-source robust quality OUTLIER flags via median/MAD — the
    * classical robust alternative to mean/stddev z-scores (one spam page
    * can drag a source's mean; nothing short of half the source moves its
    * median): per doc, (q_micro, med_micro, mad_micro, dev_micro,
    * outlier) where quality micro-quantizes ONCE (floor(1e6·q), the
    * standard float contract), med is the source's exact median quality,
    * dev = |q − med|, mad the source's exact median deviation, and
    * outlier flags dev > k·MAD. A source whose docs are mostly identical
    * has MAD 0, so ANY deviation flags — the honest degenerate case
    * (dedup first).
    *
    * Determinism: after the micro floor everything is exact IEEE — the
    * even-n median averages two integers (x.0/x.5 exact), deviations are
    * exact halves, the MAD exact quarters, and k·MAD one exact product —
    * so the flag is bit-identical cross-engine with no second quantize.
    *
    * Scale shape: two [[graft.ops.RelationalOps.exactMedianByGroup]]
    * passes (value-histogram medians — (source, value) shuffles bounded
    * by ≤ 1e6 distinct micro values per source, never a per-source sort
    * of documents); both median frames (≤ nSources rows) broadcast back;
    * the scoring pass is map-only.
    */
  def madQualityOutliers(documents: DataFrame, k: Int = 3,
                         textCol: String = "text", idCol: String = "doc_id",
                         srcCol: String = "source",
                         scope: CacheScope = CacheScope.default): DataFrame = {
    require(k >= 1, "need a positive MAD multiplier")
    val scored = scope.register(withQualityScore(
        documents.select(col(idCol), col(srcCol).as("source"), col(textCol)),
        textCol, "q")
      .select(col(idCol), col("source"),
        floor(lit(1e6) * col("q")).cast("long").as("q_micro")))
    val med = RelationalOps.exactMedianByGroup(
        scored.select(col("source"), col("q_micro")), "source", "q_micro")
      .select(col("source").as("m_source"), col("median").as("med_micro"))
    val dev = scope.register(
      scored.join(broadcast(med), col("source") <=> col("m_source"))
        .select(col(idCol), col("source"), col("q_micro"), col("med_micro"),
          abs(col("q_micro") - col("med_micro")).as("dev_micro")))
    val mad = RelationalOps.exactMedianByGroup(
        dev.select(col("source"), col("dev_micro")), "source", "dev_micro")
      .select(col("source").as("d_source"), col("median").as("mad_micro"))
    dev.join(broadcast(mad), col("source") <=> col("d_source"))
      .select(col(idCol).as("doc_id"), col("source"), col("q_micro"),
        col("med_micro"), col("mad_micro"), col("dev_micro"),
        (col("dev_micro") > lit(k) * col("mad_micro")).as("outlier"))
  }

  /** Tiny per-language function-word vocabularies for heuristic language ID. */
  val langVocab: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une", "du", "que"),
    "zh" -> Seq("de", "shi", "le", "zai", "you", "wo", "ta", "zhe", "men", "bu"))

  /** N-gram/function-word language-ID heuristic: argmax of vocabulary hits,
    * first-listed language wins ties, "und" (undetermined) when nothing hits.
    * Works on whitespace-tokenized text; a production version would add
    * character n-gram profiles — the plumbing (pure expression, no shuffle)
    * is identical.
    */
  def langId(text: Column): Column =
    // two single-element-array lambda binds (HOFs don't CSE): the token
    // split runs ONCE, the five vocabulary scans run ONCE each, and the
    // argmax references the bound 5-int score array — the naive form
    // re-evaluated the split and every scan in `greatest` AND in each
    // `when` arm (~10× the work; measured 13.9× instead of ~2× under the
    // 10× scale probe before this bind)
    element_at(transform(
      array(element_at(transform(array(tokens(text)),
        tk => array(langVocab.map { case (_, v) => vocabHits(tk, v) }: _*)), 1)),
      scores => {
        val best = array_max(scores)
        langVocab.map(_._1).zipWithIndex
          .foldRight(lit("und"): Column) { case ((lang, i), els) =>
            when(element_at(scores, i + 1) === best && best > 0, lit(lang))
              .otherwise(els)
          }
      }), 1)

  /** GPT-2-style pretokenizer pattern, simplified to the subset shared by
    * Java regex and RE2 (no lookarounds, so SQL engines evaluate it
    * identically): contractions, space-prefixed letter runs, digit runs,
    * punctuation runs. Counts "BPE words" — the pretokens a byte-pair
    * encoder would split further.
    */
  val bpeTokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** BPE-ish token count via the shared pretokenizer regex. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenPattern), lit(0)))

  /** PII/term-masking patterns, written in the Java-regex ∩ RE2 subset (no
    * lookarounds, no backreferences) so the SQL oracle evaluates them
    * identically: email addresses, IPv4 addresses, 13-19-digit card-like
    * runs. Callers append corpus-specific terms (the q50 query masks two
    * hot vocabulary words so the operator's effect is visible on the
    * synthetic corpus, which contains no real PII).
    */
  val piiPatterns: Seq[String] = Seq(
    raw"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", // email
    raw"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",         // IPv4
    raw"\b\d{13,19}\b")                                  // card-like digit run

  /** The q50/ScaleProbe masking pattern set: PII shapes + two hot corpus
    * terms. ONE definition consumed by the Spark query, the SQL oracle and
    * the probe — so the two engines can never evaluate different regexes.
    */
  val defaultMaskPatterns: Seq[String] = piiPatterns :+ raw"\b(?:spark|table)\b"

  /** Redaction: replaces every match of any pattern with `replacement` and
    * counts the matches. Pure projection — the regexes run inside
    * whole-stage codegen, no shuffle; at 100 TB this is a map-only pass.
    */
  def maskText(documents: DataFrame, patterns: Seq[String],
               replacement: String = "[MASK]",
               textCol: String = "text"): DataFrame = {
    val pat = patterns.mkString("(?:", "|", ")")
    documents.select(
      col("doc_id"),
      regexp_replace(col(textCol), pat, replacement).as("masked"),
      regexp_count(col(textCol), lit(pat)).cast("int").as("n_masked"))
  }

  /** Corpus bigram counts, top `k` by frequency (bigram-asc tiebreak) — the
    * first step of an n-gram language model. One (bigram) shuffle with
    * map-side partial aggregation, then TakeOrderedAndProject for the
    * top-k: no global sort materializes. `minCount` trims the tail between
    * the final aggregate and the top-k (it cannot shrink the shuffle
    * itself — the count doesn't exist until the reduce side; a map-side
    * cutoff would have to drop partial counts and sacrifice exactness).
    */
  def bigramCounts(documents: DataFrame, k: Int = 25, minCount: Long = 1L,
                   textCol: String = "text"): DataFrame = {
    // the token array is materialized in its OWN projection: the split
    // regex is non-cheap and multiply-referenced, so CollapseProject keeps
    // the boundary and the tokenizer runs once per row (HOFs get no CSE)
    val toks = col("__toks")
    // zip_with over the two shifted slices: empty when size < 2 (slice
    // length 0), so single-token docs contribute nothing — no sequence()
    // sign trap
    val bigrams = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, lit(" "), b))
    documents.select(tokens(col(textCol)).as("__toks"))
      .select(explode(bigrams).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(k)
  }

  /** Novelty scoring against the corpus bigram table — the integer-exact
    * stand-in for an n-gram LM perplexity score: for each document, the
    * fraction of its bigram OCCURRENCES whose corpus-wide frequency is at
    * most `maxFreq` (default 1 = hapax legomena). Common/boilerplate text
    * scores near 0, novel text near 1. Deliberately counts, not
    * log-probabilities: `ln` differs in the last ulp across libm
    * implementations (same reasoning as topTerms' ratio idf), while two
    * integers and one final division compare exactly against the oracle.
    *
    * Scale shape: one (bigram) count shuffle to build the frequency table
    * (the q51 aggregation), one bigram-keyed join back to the exploded
    * corpus, one (doc) agg. The frequency table never collects anywhere.
    */
  def hapaxFraction(documents: DataFrame, maxFreq: Long = 1L,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val toks = col("__toks")
    val bigrams = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, lit(" "), b))
    val exploded = documents
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(bigrams).as("bigram"))
    val freq = exploded.groupBy(col("bigram")).agg(count(lit(1)).as("freq"))
    exploded.join(freq, Seq("bigram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("freq") <= maxFreq, 1L).otherwise(0L)).as("n_rare"))
      .select(col(idCol), col("n_bigrams"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_bigrams")).as("novelty"))
  }

  /** Quantile-based quality filter: keeps each language's top `keepFrac`
    * documents by [[qualityScore]] (percent_rank over (score desc, id asc)
    * within the language partition — deterministic under ties). The window
    * is PARTITIONED by language, so it scales with per-language corpus
    * size, never funneling the corpus through one partition; for a single
    * dominant language at extreme scale the same op runs per (lang,
    * hash-bucket) with a per-bucket threshold merge.
    */
  def qualityFilter(documents: DataFrame, keepFrac: Double = 0.5,
                    textCol: String = "text",
                    langCol: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("quality").desc, col("doc_id").asc)
    withQualityScore(documents, textCol)
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") <= keepFrac)
      .select(col("doc_id"), col(langCol), col("quality"))
  }

  /** Word k-shingles: sliding windows of k consecutive tokens joined by a
    * space — the standard unit for near-dup fingerprinting (MinHash/SimHash).
    * Pure array expression: transform over a 0..n-k index sequence.
    */
  def shingles(toks: Column, k: Int): Column = {
    val n = size(toks)
    when(n < k, array()).otherwise(
      transform(sequence(lit(0), n - lit(k)),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** Top-k salient terms per document by a tf-idf-STYLE weight,
    * `score = tf · (n / df)` — a RATIO idf instead of the usual log(n/df).
    * Deliberate: the score then uses only IEEE-exact operations (counts,
    * one divide, one multiply), so the DuckDB oracle reproduces it
    * bit-for-bit; `ln` differs across libm implementations in the last ulp
    * and would make an exact-compare contract impossible. The ranking it
    * induces is identical to log-idf's within a document at equal tf (both
    * are monotone in 1/df); swap in `log` for conventional absolute
    * weights.
    *
    * Scale shape: one (doc, term) count shuffle + one term-keyed df count,
    * a broadcast 1-row n, and a per-document (never global) top-k window —
    * the same WindowGroupLimit shape as q16.
    */
  def topTerms(documents: DataFrame, k: Int = 5, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    val toks = documents.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfc, Seq("term")).crossJoin(broadcast(n))
      .select(col("id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") * (col("n").cast("double") / col("df").cast("double")))
          .as("score"))
    RelationalOps.topKPerGroup(scored, Seq("id"),
        Seq(col("score").desc, col("term").asc), k)
      .select(col("id").as(idCol), col("term"), col("tf"), col("df"),
        col("score"), col("rn").as("rank"))
  }

  /** Top-`size` vocabulary by corpus frequency: (term, freq, term_id) with
    * dense ids 0..size-1 assigned in (freq desc, term asc) order — the total
    * tiebreak makes the vocabulary reproducible across engines, runs, and
    * cluster sizes, which is what lets an encoded corpus be regenerated
    * identically later.
    *
    * Scale shape: one (term) count shuffle, then a TakeOrderedAndProject
    * top-`size` (per-partition heaps, never a global sort of the term
    * table); the id-assigning window runs over at most `size` rows — a
    * parameter-bounded, not data-bounded, single partition.
    */
  def buildVocab(documents: DataFrame, size: Int = 1000,
                 textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    counts.orderBy(col("freq").desc, col("term").asc).limit(size)
      .withColumn("term_id",
        (row_number().over(Window.orderBy(col("freq").desc, col("term").asc)) - 1)
          .cast("int"))
  }

  /** EXACT per-source token-length DECILES without a global sort — the
    * length half of the corpus datasheet (q95 counts; this shapes): for
    * each source and decile d, the `percentile_disc` value (smallest
    * length whose cumulative doc count reaches ceil(d·n/10)) of the
    * per-doc token count. Exact order statistics, not approximations —
    * truncation cliffs and padding spikes show up as collapsed deciles
    * that an approximate sketch smears away.
    *
    * Scale shape: docs reduce to a (source, length) VALUE HISTOGRAM in
    * one count shuffle (map-side partials); the cumulative window then
    * runs over DISTINCT LENGTH VALUES per source — bounded by the longest
    * document, not the corpus (the q94 never-a-corpus-window lemma, value-
    * histogram variant); per-source totals broadcast back; the decile
    * explode runs on histogram-sized rows. All arithmetic integer
    * (`(d·n + 9) div 10` ceilings — no doubles anywhere).
    */
  def lengthDeciles(documents: DataFrame,
                    deciles: Seq[Int] = (1 to 9),
                    textCol: String = "text",
                    srcCol: String = "source"): DataFrame = {
    require(deciles.nonEmpty && deciles.forall(d => d >= 1 && d <= 10),
      "deciles must fall in 1..10")
    val hist = documents
      .select(col(srcCol).as("source"), size(tokens(col(textCol))).cast("long").as("n"))
      .groupBy(col("source"), col("n")).agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val totals = hist.groupBy(col("source")).agg(sum(col("c")).as("n_docs"))
      .select(col("source").as("t_source"), col("n_docs"))
    val dAxis = array(deciles.distinct.sorted.map(d => lit(d.toLong)): _*)
    hist.withColumn("cum", sum(col("c")).over(wCum))
      .join(broadcast(totals), col("source") <=> col("t_source"))
      .select(col("source"), col("n"), col("cum"), col("n_docs"),
        explode(dAxis).as("decile"))
      .withColumn("target", expr("(decile * n_docs + 9) div 10"))
      .groupBy(col("source"), col("decile"))
      .agg(max(col("n_docs")).as("n_docs"),
        min(when(col("cum") >= col("target"), col("n"))).as("decile_value"))
      .orderBy(col("source").asc_nulls_last, col("decile"))
  }

  /** BOILERPLATE-PREFIX audit (the template-spam / scraped-navigation
    * detector): per source, the `topM` most frequent `prefixK`-token
    * document prefixes with their document counts and share — a source
    * whose docs overwhelmingly open with the same prefix (share ≥
    * `flagShareMicro`) is serving templated pages (cookie banners, listing
    * headers, mirror navigation), the slice a curation pass strips or
    * down-samples before [[removeRepeatedSpans]] does per-doc surgery.
    * [[graft.ops.DedupOps.boilerplateReport]] scores each DOC's
    * shared-shingle fraction; this names the per-SOURCE templates.
    * Docs shorter than `prefixK` tokens contribute their whole text.
    *
    * Output per (source, rank 1..topM): (prefix, n_docs_prefix,
    * n_docs_source, share_micro, flagged), rank ordered by (count desc,
    * prefix asc) — a total order, so the table is reproducible anywhere.
    *
    * Scale shape: ONE corpus-scale (source, prefix) count shuffle with
    * map-side partials (the prefix is a bounded ≤ prefixK-token string,
    * not the document); top-M per source via the rank window's group
    * limit (per-partition heaps, WindowGroupLimit); the per-source doc
    * totals (≤ nSources rows) join back broadcast.
    */
  def boilerplatePrefixes(documents: DataFrame, prefixK: Int = 8,
                          topM: Int = 3, flagShareMicro: Long = 300000L,
                          textCol: String = "text",
                          srcCol: String = "source"): DataFrame = {
    require(prefixK >= 1 && topM >= 1, "need a positive prefix length and M")
    val base = documents.select(col(srcCol).as("source"),
      array_join(slice(tokens(col(textCol)), 1, prefixK), " ").as("prefix"))
    val counts = base.groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("n_docs_prefix"))
    val totals = base.groupBy(col("source")).agg(count(lit(1)).as("n_docs_source"))
    RelationalOps.topKPerGroup(counts, Seq("source"),
        Seq(col("n_docs_prefix").desc, col("prefix").asc), topM)
      .join(broadcast(totals.select(col("source").as("t_source"),
        col("n_docs_source"))), col("source") <=> col("t_source"))
      .withColumn("share_micro",
        floor((lit(1e6) * col("n_docs_prefix").cast("double"))
          / col("n_docs_source").cast("double")).cast("long"))
      .withColumn("flagged",
        when(col("share_micro") >= flagShareMicro, 1L).otherwise(0L))
      .select(col("source"), col("rn").as("rank"), col("prefix"),
        col("n_docs_prefix"), col("n_docs_source"), col("share_micro"),
        col("flagged"))
      .orderBy(col("source").asc_nulls_last, col("rank"))
  }

  /** Tokenizer VOCAB-COVERAGE curve: for each source and each candidate
    * vocabulary size V, the fraction of token OCCURRENCES covered by the
    * corpus-global top-V vocabulary ([[buildVocab]]'s (freq desc, term asc)
    * total order) — the how-big-must-the-vocab-be audit that sizes a
    * tokenizer before committing a corpus to ids, and the per-source OOV
    * rate that predicts which slices will fragment into fallback bytes
    * (the fertility datasheet's X100 sibling on the closed-vocab side).
    *
    * Output per (source, vocab_size): (covered_tokens, total_tokens,
    * coverage_micro, oov_micro) — the ratio one product-then-quotient
    * double floored (quantize-before-compare), oov its exact integer
    * complement; ordered (source NULLS LAST, vocab_size).
    *
    * Scale shape: ONE corpus-scale (source, term) count shuffle with
    * map-side partials; the global ranking reuses [[buildVocab]]'s
    * bounded TakeOrderedAndProject + parameter-sized window; the vocab
    * joins BROADCAST (≤ max(V) rows) onto the per-source aggregate, and
    * the V-axis explode runs on ≤ nSources rows. No corpus-wide window,
    * no second corpus pass.
    */
  def vocabCoverage(documents: DataFrame,
                    vocabSizes: Seq[Int] = Seq(16, 64, 256),
                    textCol: String = "text",
                    srcCol: String = "source"): DataFrame = {
    require(vocabSizes.nonEmpty && vocabSizes.forall(_ > 0),
      "need positive candidate vocab sizes")
    val sizes = vocabSizes.distinct.sorted
    val perSrcTerm = documents
      .select(col(srcCol).as("source"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("n"))
    val vocab = buildVocab(documents, sizes.max, textCol)
    val joined = perSrcTerm.join(
      broadcast(vocab.select(col("term"), col("term_id"))), Seq("term"), "left")
    val aggs = sum(col("n")).as("total_tokens") +: sizes.map(v =>
      sum(when(col("term_id") < v, col("n")).otherwise(0L)).as(s"cov_$v"))
    val perSource = joined.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
    val vAxis = sizes.map(v => struct(
      lit(v.toLong).as("vocab_size"), col(s"cov_$v").as("covered_tokens")))
    perSource
      .select(col("source"), col("total_tokens"),
        explode(array(vAxis: _*)).as("c"))
      .select(col("source"), col("c.vocab_size"), col("c.covered_tokens"),
        col("total_tokens"))
      .withColumn("coverage_micro",
        floor((lit(1e6) * col("covered_tokens").cast("double"))
          / col("total_tokens").cast("double")).cast("long"))
      .withColumn("oov_micro", lit(1000000L) - col("coverage_micro"))
      .orderBy(col("source").asc_nulls_last, col("vocab_size"))
  }

  /** Token-id encoding of a corpus against a vocabulary: one row per token
    * position — (doc_id, pos, term, term_id), out-of-vocabulary terms → -1.
    * The exploded row form IS the distributed representation (arrays
    * re-assemble with a per-doc collect_list over pos when a consumer wants
    * them); the vocab joins as a broadcast (size-bounded, model-like).
    */
  def encodeTokens(documents: DataFrame, vocab: DataFrame,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    documents
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .join(broadcast(vocab.select(col("term"), col("term_id"))), Seq("term"), "left")
      .na.fill(-1, Seq("term_id"))
      .select(col(idCol), col("pos"), col("term"), col("term_id"))

  /** Hashed unigram+bigram feature buckets of a text column — the DSIR
    * (Xie et al. 2023, "Data Selection for Language Models via Importance
    * Resampling") feature map: every token's md5 hash and every adjacent
    * pair's Horner combination, each reduced mod `buckets`. Map-only; the
    * token-hash array binds once as a lambda variable (HOFs don't CSE).
    */
  private[graft] def gramBuckets(text: Column, buckets: Int): Column =
    flatten(transform(array(
      transform(tokens(text), t => DetHash.md5Hash60(t) % lit(DetHash.P))),
      th => {
        val unis = transform(th, h => (h % buckets).cast("int"))
        val windows = when(size(th) >= 2, sequence(lit(0), size(th) - 2))
          .otherwise(array().cast("array<int>"))
        val bis = transform(windows, i =>
          (((element_at(th, i + 1) * lit(DetHash.A) + element_at(th, i + 2))
            % lit(DetHash.P)) % buckets).cast("int"))
        concat(unis, bis)
      }))

  /** DSIR-style importance score of every `raw` document toward a `target`
    * distribution: hashed unigram+bigram features ([[gramBuckets]]),
    * add-1-smoothed per-bucket probabilities on each side, and per-document
    * score = Σ over its grams of the log probability ratio
    * `ln(p_target[b] / p_raw[b])` — the log importance weight a resampler
    * feeds to softmax/Gumbel selection. Output: (doc_id, n_grams,
    * score_micro), score in MICRO-nats as a BIGINT: each bucket's log-ratio
    * is quantized once to `floor(ln·1e6 + 0.5)` so the per-document sum is
    * an INTEGER sum — order-free and bit-identical cross-engine (the same
    * reasoning that keeps the whole oracle tier hash-stable; a raw double
    * fold over reordered grams would not be). Quantization error is bounded
    * by n_grams·5e-7 nats — noise against any real selection threshold.
    *
    * Scale shape: the two bucket-count aggregations collapse map-side to
    * ≤ `buckets` rows per task before ONE tiny exchange each; the collected
    * count vectors are MODEL PARAMETERS (buckets-bounded, like KMeans
    * centroids), embedded as one array literal. Scoring is then a pure
    * map-only fold per document — no join, no shuffle, whole-stage codegen
    * end to end.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, buckets: Int = 1024,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val lr = dsirModel(raw, target, buckets, textCol)
    raw.select(col(idCol),
      gramBuckets(col(textCol), buckets).as("__gs"))
      .select(col(idCol),
        size(col("__gs")).cast("int").as("n_grams"),
        dsirScoreOverBuckets(col("__gs"), lr).as("score_micro"))
  }

  /** Train the DSIR bucket model alone: the per-bucket micro-nat-quantized
    * log probability ratios, as a plain `Seq[Long]` of length `buckets` —
    * frozen MODEL PARAMETERS that [[dsirScoreCol]] turns into a stateless
    * scoring expression. Train once on a batch corpus, score anywhere:
    * batch frames, new shards, STREAMING micro-batches (the expression is
    * map-only, so it runs unchanged under `writeStream` with no state and
    * no per-batch recomputation).
    */
  def dsirModel(raw: DataFrame, target: DataFrame, buckets: Int = 1024,
                textCol: String = "text"): Seq[Long] = {
    def counts(g: DataFrame): Array[Long] = {
      val arr = Array.fill(buckets)(0L)
      g.select(explode(col("gs")).as("b")).groupBy(col("b"))
        .agg(count(lit(1)).as("c")).collect()
        .foreach(r => arr(r.getInt(0)) = r.getLong(1))
      arr
    }
    val rc = counts(raw.select(gramBuckets(col(textCol), buckets).as("gs")))
    val tc = counts(target.select(gramBuckets(col(textCol), buckets).as("gs")))
    val (rTot, tTot) = (rc.sum, tc.sum)
    Array.tabulate(buckets) { b =>
      // exact-integer operands, double products/quotient in a FIXED shape
      // mirrored literally by the oracle SQL — identical IEEE doubles in
      val ratio = ((tc(b) + 1).toDouble * (rTot + buckets).toDouble) /
        ((rc(b) + 1).toDouble * (tTot + buckets).toDouble)
      math.floor(math.log(ratio) * 1e6 + 0.5).toLong
    }.toSeq
  }

  /** Stateless DSIR score of a text column under a frozen model — Σ over
    * the text's hashed grams of the model's micro-nat log-ratios (integer
    * fold, order-free). `lr.length` is the bucket count.
    */
  def dsirScoreCol(text: Column, lr: Seq[Long]): Column =
    dsirScoreOverBuckets(gramBuckets(text, lr.length), lr)

  private def dsirScoreOverBuckets(gs: Column, lr: Seq[Long]): Column = {
    val lrLit = typedLit(lr)
    aggregate(gs, lit(0L), (acc, g) => acc + element_at(lrLit, g + 1))
  }

  /** Bigram language-model scoring of a corpus against ITSELF — the
    * CCNet-style perplexity quality signal (Wenzek et al. 2020) with the
    * KenLM stage re-expressed as a distributed add-1-smoothed bigram model:
    * `p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)` over token counts, and per
    * document the sum of its bigrams' log-probabilities. Low (very
    * negative) average log-prob ≈ high perplexity ≈ gibberish; high ≈
    * degenerate repetition — the two tails a CCNet filter cuts. Output:
    * (doc_id, n_bigrams, lp_micro) with lp in MICRO-nats as BIGINT — each
    * DISTINCT bigram's log-prob quantizes once (`floor(ln·1e6 + 0.5)`), so
    * per-document totals are integer sums: order-free, bit-identical
    * cross-engine (same contract as [[dsirWeights]]).
    *
    * Scale shape: token identity is the md5 hash, so ONLY ints cross every
    * exchange (collisions shared bit-for-bit with the oracle — the shingle
    * tier's stated compromise). The model (unigram counts, bigram counts,
    * the V scalar as a 1-row broadcast) is corpus-vocabulary-bounded and
    * map-side-combines; scoring joins per-doc DISTINCT-bigram counts (not
    * occurrences — repetitive docs collapse before the exchange) to the
    * model on int keys, then one groupBy(id). No driver-side model collect:
    * unlike [[dsirWeights]]' fixed buckets, a bigram table scales with the
    * corpus and stays distributed.
    */
  def bigramLmScore(documents: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val hs = transform(tokens(col(textCol)),
      t => DetHash.md5Hash60(t) % lit(DetHash.P))
    val toks = documents.select(col(idCol).as("id"), hs.as("hs"))
    val uni = toks.select(explode(col("hs")).as("h1"))
      .groupBy(col("h1")).agg(count(lit(1)).as("uc"))
    val vdf = uni.agg(count(lit(1)).as("v"))
    val bg = toks.select(col("id"), explode(flatten(transform(array(col("hs")),
      h0 => transform(
        when(size(h0) >= 2, sequence(lit(0), size(h0) - 2))
          .otherwise(array().cast("array<int>")),
        i => struct(element_at(h0, i + 1).as("h1"),
          ((element_at(h0, i + 1) * lit(DetHash.A) + element_at(h0, i + 2))
            % lit(DetHash.P)).as("hb")))))).as("b"))
      .select(col("id"), col("b.h1"), col("b.hb"))
    val bc = bg.groupBy(col("h1"), col("hb")).agg(count(lit(1)).as("bc"))
    val model = bc.join(uni, Seq("h1"))
      .crossJoin(broadcast(vdf))
      .select(col("h1"), col("hb"),
        floor(log((col("bc") + 1).cast("double") /
          (col("uc") + col("v")).cast("double")) * 1e6 + 0.5)
          .cast("long").as("lp"))
    val dbc = bg.groupBy(col("id"), col("h1"), col("hb"))
      .agg(count(lit(1)).as("n"))
    val scored = dbc.join(model, Seq("h1", "hb"))
      .groupBy(col("id"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(col("n") * col("lp")).as("lp_micro"))
    documents.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lp_micro"), lit(0L)).as("lp_micro"))
  }

  /** COUNT-MIN sketch heavy-hitter audit (Cormode & Muthukrishnan 2005):
    * build the d×w counter grid over token occurrences (row i hashes a
    * term with md5("cms<i>|term") mod w — the engine-wide md5 determinism
    * contract, so the grid is bit-identical on any engine or
    * partitioning), then for the exact top-`topK` terms report the CMS
    * estimate beside the exact count. The estimate is ONE-SIDED
    * (est ≥ exact always — counters only ever add collisions), and the
    * overcount column is the measured sizing signal: it answers "is
    * d×w wide enough for THIS corpus" before a streaming deployment
    * commits to the sketch — the X107/X108 sizing-audit pattern on the
    * frequency tier. q67's Misra-Gries gives exact guarantees batch-side;
    * CMS is the mergeable-per-partition form a `foreachBatch` counter
    * keeps at fixed memory.
    *
    * Output per candidate: (term, exact_count, cms_estimate, overcount),
    * ordered (exact desc, term) — a total order.
    *
    * Scale shape: ONE corpus-scale (r, c) count shuffle collapsing
    * map-side to ≤ d·w cells (the sketch property: grid size is a
    * PARAMETER, independent of corpus or vocabulary); candidates come
    * from [[buildVocab]]'s bounded heaps; estimates join the grid
    * BROADCAST (d·w rows). No corpus-wide window, no collect.
    */
  /** The CMS row-hash cell of `term` for row `i`: md5("cms<i>|term") mod w
    * — ONE definition consumed by the batch grid, the streaming counter
    * and the SQL oracle.
    */
  private def cmsCellCol(i: Int, w: Int): Column =
    (DetHash.md5Hash60(concat(lit(s"cms$i|"), col("term"))) % w).cast("int")

  /** The d×w COUNT-MIN grid of a corpus: (r, c, n) counter cells over
    * token occurrences. Mergeable by construction — grids of disjoint
    * corpus slices sum cell-wise to the whole-corpus grid, which is what
    * makes the sketch a per-partition/per-micro-batch counter. One
    * corpus-scale count shuffle collapsing map-side to ≤ d·w cells.
    */
  def cmsGrid(documents: DataFrame, d: Int = 4, w: Int = 256,
              textCol: String = "text"): DataFrame = {
    require(d >= 1 && w >= 1, "need positive d and w")
    documents.select(explode(tokens(col(textCol))).as("term"))
      .select(explode(array((0 until d).map(i =>
        struct(lit(i).as("r"), cmsCellCol(i, w).as("c"))): _*)).as("x"))
      .select(col("x.r"), col("x.c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("n"))
  }

  def cmsHeavyHitterAudit(documents: DataFrame, d: Int = 4, w: Int = 256,
                          topK: Int = 20,
                          textCol: String = "text"): DataFrame = {
    require(d >= 1 && w >= 1 && topK >= 1, "need positive d, w, topK")
    def cellCol(i: Int) = cmsCellCol(i, w)
    val grid = cmsGrid(documents, d, w, textCol)
    val cand = buildVocab(documents, topK, textCol)
      .select(col("term"), col("freq"))
    cand
      .select(col("term"), col("freq"),
        explode(array((0 until d).map(i =>
          struct(lit(i).as("r"), cellCol(i).as("c"))): _*)).as("x"))
      .select(col("term"), col("freq"), col("x.r"), col("x.c"))
      .join(broadcast(grid), Seq("r", "c"))
      .groupBy(col("term"))
      .agg(max(col("freq")).as("exact_count"), min(col("n")).as("cms_estimate"))
      .withColumn("overcount", col("cms_estimate") - col("exact_count"))
      .orderBy(col("exact_count").desc, col("term"))
  }

  /** CMS estimates for arbitrary candidate terms against a stored (r, c,
    * n) grid frame (e.g. the streaming counter's latest snapshot): min
    * over the term's d row cells, 0 for terms whose cells were never
    * touched. Map-only vs the BROADCAST grid (d·w rows — model-sized).
    */
  def cmsEstimates(grid: DataFrame, terms: DataFrame, d: Int = 4,
                   w: Int = 256): DataFrame = {
    require(d >= 1 && w >= 1, "need positive d and w")
    terms.select(col("term"),
        explode(array((0 until d).map(i =>
          struct(lit(i).as("r"), cmsCellCol(i, w).as("c"))): _*)).as("x"))
      .select(col("term"), col("x.r"), col("x.c"))
      .join(broadcast(grid), Seq("r", "c"), "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("n"), lit(0L))).as("cms_estimate"))
  }

  /** CCNet PERPLEXITY TERCILES (Wenzek et al. 2020 §4.3): per source,
    * documents partitioned into head / middle / tail thirds by their
    * [[bigramLmScore]] average log-probability — the published recipe
    * keeps "head" (lowest perplexity) for training and drops or
    * down-weights "tail". Per-doc score = floor(lp_micro / (n_bigrams ·
    * 10⁴)) — average log-prob quantized to CENTI-nats in one
    * product-then-quotient double shape; the coarser grid is the point:
    * tercile cut values come from a (source, score) VALUE histogram whose
    * cumulative window is bounded by the SCORE RANGE (a few thousand
    * distinct centi-nat values), not by corpus size — the q126
    * value-histogram lemma, so no per-source sort of all documents ever
    * happens. Cut_t = min score with cum ≥ ceil(t·n/3); bucket by value
    * threshold (tail ≤ cut1 < middle ≤ cut2 < head), ties landing the
    * same side on any engine. Documents with zero bigrams (single-token)
    * are excluded — they have no perplexity.
    *
    * Output per doc: (doc_id, source, n_bigrams, score_centi, bucket,
    * cut1_centi, cut2_centi), ordered by doc_id.
    *
    * Scale shape: the LM inherits q100's distributed shapes; the
    * histogram shuffle is map-side combinable to ≤ nSources·|score range|
    * rows; totals and cuts (≤ nSources·2 rows) broadcast back onto the
    * scored frame.
    */
  def perplexityBuckets(documents: DataFrame, textCol: String = "text",
                        srcCol: String = "source",
                        idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = bigramLmScore(documents, textCol, idCol)
    val src = documents.select(col(idCol).as("__sid"), col(srcCol).as("source"))
    // registered: the scored frame feeds the per-source histogram AND the
    // final bucket assignment — uncached, the whole bigram-LM scoring
    // pass (train + score) would run once per consumer
    val base = graft.ops.CacheScope.default.register(
      scored.filter(col("n_bigrams") > 0)
        .withColumn("score_centi",
          floor(col("lp_micro").cast("double")
            / (col("n_bigrams").cast("double") * lit(10000.0))).cast("long"))
        .join(src, col(idCol) === col("__sid")).drop("__sid"))
    val hist = base.groupBy(col("source"), col("score_centi"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("score_centi"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = hist.groupBy(col("source")).agg(sum(col("c")).as("n_docs"))
      .select(col("source").as("t_source"), col("n_docs"))
    val cuts = hist.withColumn("cum", sum(col("c")).over(wCum))
      .join(broadcast(totals), col("source") <=> col("t_source"))
      .select(col("source"), col("score_centi"), col("cum"), col("n_docs"),
        explode(array(lit(1L), lit(2L))).as("tercile"))
      .withColumn("target", expr("(tercile * n_docs + 2) div 3"))
      .groupBy(col("source"), col("tercile"))
      .agg(min(when(col("cum") >= col("target"), col("score_centi"))).as("cut"))
    val cw = cuts.groupBy(col("source").as("c_source")).agg(
      max(when(col("tercile") === 1, col("cut"))).as("cut1_centi"),
      max(when(col("tercile") === 2, col("cut"))).as("cut2_centi"))
    base.join(broadcast(cw), col("source") <=> col("c_source"), "left")
      .select(col(idCol), col("source"), col("n_bigrams"), col("score_centi"),
        when(col("score_centi") <= col("cut1_centi"), lit("tail"))
          .when(col("score_centi") <= col("cut2_centi"), lit("middle"))
          .otherwise(lit("head")).as("bucket"),
        col("cut1_centi"), col("cut2_centi"))
      .orderBy(col(idCol))
  }

  /** Seeded IMPORTANCE RESAMPLING over a scored frame — the selection step
    * DSIR runs after [[dsirWeights]]: Gumbel-top-k (Vieira 2014) draws k
    * documents without replacement with probability ∝ exp(score/τ), by
    * ranking `score/τ + Gumbel(md5(salt|id))` and keeping the top k. All
    * randomness derives from md5 (the engine-wide determinism contract):
    * `u = (md5Hash60(salt|id) + 1) / (2^60 + 1)` ∈ (0,1),
    * `g = −ln(−ln u)`, and BOTH terms quantize to micro-nat BIGINTs before
    * the integer key addition — same salt ⇒ same sample on any engine, any
    * partitioning, any cluster size; new salt ⇒ fresh draw. Output:
    * (id, score, key_micro) — the k selected rows in (key desc, id) order.
    *
    * Scale shape: key derivation is map-only over the scored frame; the
    * selection is orderBy+limit = TakeOrderedAndProject (per-partition
    * top-k heaps merged on the driver — k-bounded, never a global sort).
    */
  def importanceResample(scored: DataFrame, k: Int,
                         salt: String = "resample", tau: Double = 1.0,
                         idCol: String = "doc_id",
                         scoreCol: String = "score_micro"): DataFrame = {
    require(k >= 1 && tau > 0, "need k >= 1 and tau > 0")
    val h = DetHash.md5Hash60(
      concat(lit(salt + "|"), col(idCol).cast("string")))
    val u = (h + 1).cast("double") / lit(1152921504606846977L).cast("double")
    val gMicro = floor(-log(-log(u)) * 1e6 + 0.5).cast("long")
    val sMicro = floor(col(scoreCol).cast("double") / tau + 0.5).cast("long")
    scored
      .withColumn("key_micro", sMicro + gMicro)
      .orderBy(col("key_micro").desc, col(idCol).asc)
      .limit(k)
  }

  /** ZIPF rank-frequency audit at decade ranks (1, 10, 100, …): the
    * corpus-health check behind "does this corpus look like natural
    * language" — natural text drops ≈ ln(10) micro-nats of log-frequency
    * per rank decade (Zipf slope ≈ −1); flat decades mean template spam,
    * cliffs mean truncated vocabulary. Output per decade rank: (rank,
    * term, freq, lnf_micro, drop_micro) where lnf is the quantized ln of
    * the frequency and drop is the integer difference from the previous
    * decade (NULL at rank 1) — divide by ln(10)·1e6 ≈ 2302585 for the
    * slope. All-integer output (the quantize-before-compare contract).
    *
    * Scale shape: one (term) count shuffle with map-side partials, then
    * TakeOrderedAndProject keeps the top `maxRank` terms (per-partition
    * heaps) — the ranking window runs over a PARAMETER-bounded ≤ maxRank
    * rows (the buildVocab note), never the vocabulary.
    */
  def zipfDecades(documents: DataFrame, maxRank: Int = 1000,
                  textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = documents.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term").asc).limit(maxRank)
    val w = Window.orderBy(col("freq").desc, col("term").asc)
    // exact decade ranks as literals (log10(1000) in doubles is
    // 2.9999999999999996 — a float-equality decade test would drop it)
    val decadeRanks = Iterator.iterate(1L)(_ * 10).takeWhile(_ <= maxRank).toSeq
    val decades = top
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank").isin(decadeRanks: _*))
      .withColumn("lnf_micro",
        floor(log(col("freq").cast("double")) * 1e6 + 0.5).cast("long"))
    decades
      .withColumn("drop_micro",
        lag(col("lnf_micro"), 1).over(Window.orderBy(col("rank"))) - col("lnf_micro"))
      .select(col("rank"), col("term"), col("freq"),
        col("lnf_micro"), col("drop_micro"))
  }

  /** Gopher-style repetition filters, per document: the most frequent
    * token's share of all tokens (`top_tok_frac`) and the fraction of
    * bigram occurrences that are repeats of an earlier bigram
    * (`dup_bigram_frac` = 1 − distinct/total). High values of either mark
    * boilerplate / degenerate text (the "repetition" rules of the Gopher
    * and C4 cleaning pipelines). Ties on the top token break to the
    * lexicographically smallest, so the output is deterministic.
    *
    * Scale shape: ENTIRELY map-only — the bigram stats are pure array
    * expressions, and the top token is a single fold (`aggregate`) over the
    * SORTED token array: equal tokens are adjacent after `array_sort`, so
    * the longest run is the max count, and scanning ascending makes strict
    * `>` updates realize the lexicographic tiebreak for free. No explode,
    * no shuffle, no window — a per-document count-table shuffle (the
    * obvious alternative) measured ~4 s at sf0.1 where this runs sub-second,
    * and at 100 TB the difference is a full extra pass over the corpus.
    */
  def repetitionStats(documents: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    // tokenize ONCE into an attribute (same CollapseProject-boundary trick
    // as bigramCounts — the fold, sort, slices and size would otherwise
    // each re-run the split regex, since HOFs get no CSE)
    val toksC = col("__toks")
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best_n"), lit("").as("best_tok"))
    val folded = aggregate(array_sort(toksC), zero, (st, t) => {
      val run = when(t === st.getField("prev"), st.getField("run") + 1L)
        .otherwise(lit(1L))
      struct(t.as("prev"), run.as("run"),
        when(run > st.getField("best_n"), run)
          .otherwise(st.getField("best_n")).as("best_n"),
        when(run > st.getField("best_n"), t)
          .otherwise(st.getField("best_tok")).as("best_tok"))
    })
    // bigrams via zip_with over the two shifted slices (2 array allocs per
    // row), NOT shingles() (a per-element slice+concat_ws → O(n·k) allocs);
    // n_bigrams = n_tokens − 1 for free, so the bigram array is evaluated
    // in exactly ONE expression — HOFs aren't codegen'd, so projection
    // collapse would otherwise re-evaluate the array per referencing
    // expression (no CSE outside codegen; measured 2× on this query)
    val bigrams = zip_with(
      slice(toksC, lit(1), size(toksC) - 1),
      slice(toksC, lit(2), size(toksC) - 1),
      (a, b) => concat(a, lit(" "), b))
    documents
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(toksC).as("n_tokens"),
        size(array_distinct(bigrams)).as("n_distinct_bigrams"), folded.as("__f"))
      .select(col(idCol), col("n_tokens"),
        col("__f.best_tok").as("top_tok"), col("__f.best_n").as("top_tok_n"),
        (col("__f.best_n").cast("double") / col("n_tokens")).as("top_tok_frac"),
        when(col("n_tokens") <= 1, lit(0.0))
          .otherwise(lit(1.0) -
            col("n_distinct_bigrams").cast("double") / (col("n_tokens") - 1))
          .as("dup_bigram_frac"))
  }

  /** Intra-document SELF-REPETITION span removal — the surgical counterpart
    * of [[repetitionStats]]' flags: every n-gram occurrence whose identical
    * n-gram appeared EARLIER in the same document marks its token range for
    * removal (first occurrence always survives); the document is rebuilt
    * from the kept tokens. The cleanup pass for crawl docs that repeat
    * navigation chrome, list boilerplate, or degenerate loops inside one
    * page. Output: (doc_id, clean_text, n_removed) — `clean_text` is
    * whitespace-NORMALIZED (tokens rejoined with single spaces; both engines
    * of the oracle pair normalize identically).
    *
    * Scale shape: n-gram identity is the md5+Horner hash
    * ([[graft.ops.DedupOps.positionedNgramHashes]] — map-only), repeats are
    * a (doc, hash)-partitioned row_number window over (id, long, int) rows,
    * and removed positions aggregate to ONE int array per affected doc —
    * so only integers cross the exchanges after the span window; token
    * STRINGS never ship as per-token rows (a ~3-4× payload inflation vs
    * shipping documents). The rebuild is then map-side: the removed-array
    * frame (only docs that repeat themselves) joins back to `documents`
    * (AQE broadcasts it when small) and an indexed HOF filter over the
    * tokenization drops the removed positions in one fused projection. The
    * per-token `array_contains` probe is O(|removed|) — bounded by the
    * pathological doc's own repetition, never by the corpus.
    */
  def removeRepeatedSpans(documents: DataFrame, n: Int = 8,
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    val grams = DedupOps.positionedNgramHashes(documents, textCol, idCol, n)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"), col("h")).orderBy(col("pos"))
    val removed = grams.withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
    rebuildWithoutSpans(documents, removed, n, textCol, idCol)
  }

  /** Shared rebuild tail of the span-removal operators: expand flagged
    * n-gram starts to token ranges, aggregate to ONE int array per affected
    * doc, join back and drop the positions with an indexed HOF filter —
    * only (id, int-array) rows cross the final exchange, token strings never
    * ship as rows (see [[removeRepeatedSpans]]'s scale note).
    */
  private def rebuildWithoutSpans(documents: DataFrame, flagged: DataFrame,
                                  n: Int, textCol: String,
                                  idCol: String): DataFrame = {
    val removed = flagged
      .select(col("id"), explode(sequence(col("pos"), col("pos") + n - 1)).as("tpos"))
      .distinct()
      .groupBy(col("id")).agg(collect_list(col("tpos")).as("rm"))
    val toksC = col("__toks")
    documents
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .join(removed, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("rm").isNull, array_join(toksC, " "))
          .otherwise(array_join(
            filter(toksC, (_, i) => !array_contains(col("rm"), i + 1)), " "))
          .as("clean_text"),
        coalesce(size(col("rm")), lit(0)).cast("long").as("n_removed"))
  }

  /** EXACT SUBSTRING deduplication across the WHOLE corpus, at n-gram
    * granularity — the Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better") cleanup, where any token span whose exact
    * n-gram occurs more than once in the corpus survives only at its FIRST
    * occurrence (global (doc_id, pos) order) and is cut everywhere else.
    * Subsumes [[removeRepeatedSpans]] (within-doc repeats are later
    * occurrences of their first) and extends it across documents: shared
    * boilerplate, licenses, syndicated paragraphs collapse to one copy
    * corpus-wide. Output: (doc_id, clean_text, n_removed), clean_text
    * whitespace-normalized exactly like [[removeRepeatedSpans]].
    *
    * Scale shape: ONE shuffle of (id, pos, hash) int rows keyed by the
    * n-gram hash; the global keeper per hash is min(struct(id, pos)) over an
    * UNORDERED window frame (no per-group sort — the whole-partition frame
    * aggregates in one pass, the same trick as the LSH bucket caps). A
    * pathologically hot n-gram (corpus-wide chrome) costs its occurrence
    * count in ONE partition's aggregation, not a sort. The rebuild tail is
    * the shared map-side int-array join ([[rebuildWithoutSpans]]).
    */
  def exactSubstringDedup(documents: DataFrame, n: Int = 8,
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    val grams = DedupOps.positionedNgramHashes(documents, textCol, idCol, n)
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val later = grams
      .withColumn("keep", min(struct(col("id"), col("pos"))).over(wh))
      .filter(struct(col("id"), col("pos")) =!= col("keep"))
    rebuildWithoutSpans(documents, later, n, textCol, idCol)
  }

  /** Concat-and-chunk sequence packing: lay the corpus out as one token
    * stream in `idCol` order and cut it into fixed-`capacity` blocks — the
    * standard way training examples are packed into context windows. Emits
    * one row per block: how many documents contribute, the first/last doc
    * id, and the token count (= capacity for every block but the last).
    *
    * The global cumulative offset is computed WITHOUT a single-partition
    * window: docs are grouped into coarse chunks (`idCol` div `chunkSize`),
    * per-chunk totals (corpus/chunkSize rows — small) are cumsum'd and
    * broadcast back as chunk base offsets, and the remaining cumsum runs in
    * a window partitioned by chunk. At extreme scale the chunk-total cumsum
    * recurses the same way; one level covers ~10^10 docs at chunkSize 2^20.
    * A document spanning a block boundary contributes to every block it
    * touches (`sequence` explode — bounded by ⌈nt/capacity⌉+1 rows per doc).
    */
  def packSequences(documents: DataFrame, capacity: Int = 512,
                    chunkSize: Int = 4096, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nt = documents.select(col(idCol).as("id"),
        size(tokens(col(textCol))).cast("long").as("nt"))
      .withColumn("chunk", floor(col("id") / chunkSize).cast("long"))
    val baseW = Window.orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = nt.groupBy(col("chunk")).agg(sum(col("nt")).as("chunk_total"))
      .withColumn("chunk_base", coalesce(sum(col("chunk_total")).over(baseW), lit(0L)))
      .select(col("chunk"), col("chunk_base"))
    val inChunkW = Window.partitionBy(col("chunk")).orderBy(col("id"))
    val withOff = nt.join(broadcast(bases), Seq("chunk"))
      .withColumn("off", col("chunk_base") + sum(col("nt")).over(inChunkW) - col("nt"))
    val cap = lit(capacity.toLong)
    withOff.filter(col("nt") > 0)
      .select(col("id"), col("nt"), col("off"),
        explode(sequence(floor(col("off") / cap).cast("long"),
          floor((col("off") + col("nt") - 1) / cap).cast("long"))).as("block"))
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("id")).as("first_doc"), max(col("id")).as("last_doc"),
        sum(least(col("off") + col("nt"), (col("block") + 1) * cap) -
          greatest(col("off"), col("block") * cap)).as("n_tokens"))
  }

  /** BM25 relevance of every document to a fixed query-term list — the
    * retrieval scorer behind corpus search / example selection. Per term:
    * `idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`, summed over
    * `queryTerms` IN LIST ORDER (a fixed fold, so the double result is
    * bit-reproducible — aggregation-order-free). `idf` is the RATIO form
    * `(N−df+0.5)/(df+0.5)` rather than its log — exactly representable
    * cross-engine, which keeps the oracle hash-stable (same reasoning as
    * [[topTerms]]' ratio idf). Rankings match log-idf BM25 per term
    * (monotone transform); MULTI-term sums can order differently, since the
    * ratio form weights rare terms more heavily than the log does — a
    * deliberate trade for bit-determinism, stated rather than hidden.
    *
    * Scale shape: corpus stats (N, total tokens) and per-term dfs are two
    * one-row/k-row broadcasts; per-document work is `size(filter(toks))`
    * per term — map-only, no explode, no shuffle. tf=0 terms contribute
    * exactly 0.
    */
  def bm25(documents: DataFrame, queryTerms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75,
           textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val toks = tokens(col(textCol))
    val stats = documents.agg(count(lit(1)).as("n_docs"),
      sum(size(toks).cast("long")).as("total_toks"))
    val dfAggs = queryTerms.zipWithIndex.map { case (term, i) =>
      sum(when(array_contains(toks, term), 1L).otherwise(0L)).as(s"df$i")
    }
    val dfs = documents.agg(dfAggs.head, dfAggs.tail: _*)
    val dl = size(col("toks")).cast("double")
    val avgdl = col("total_toks").cast("double") / col("n_docs")
    val score = queryTerms.zipWithIndex.map { case (term, i) =>
      val tf = size(filter(col("toks"), x => x === term)).cast("double")
      val idf = (col("n_docs").cast("double") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5))
      idf * (tf * lit(k1 + 1)) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * dl / avgdl))
    }.reduce(_ + _)
    documents.select(col(idCol), toks.as("toks"))
      .crossJoin(broadcast(stats)).crossJoin(broadcast(dfs))
      .select(col(idCol), size(col("toks")).as("dl"), score.as("bm25"))
  }

  /** MULTI-QUERY BM25 retrieval through a POSTING-LIST plan — the search
    * shape [[bm25]]'s fixed-term scan generalizes to: a (small) table of
    * queries, each a whitespace term list, scored against the corpus with
    * per-query top-k results. The corpus side builds postings ONLY for
    * terms any query mentions (the filter pushes into the token explode),
    * so work scales with |postings of query terms|, not |corpus × queries|
    * — the inverted-index shape a retrieval engine runs, as a join. Same
    * bit-stable ratio-idf scoring contract as [[bm25]] (idf exactly
    * representable; per-(query,doc) term contributions are folded in
    * SORTED TERM ORDER — collect, sort, fold — because a plain double
    * `sum()` aggregates in partition order, which neither reruns nor the
    * oracle would reproduce). Only docs matching ≥ 1 term appear (true
    * posting-list semantics; the full-scan [[bm25]] scores zeros too).
    *
    * Scale shape: query terms broadcast (a query table is model-sized);
    * postings = one corpus explode FILTERED to those terms; dfs are one
    * term-keyed aggregation of the pruned postings; scoring is one
    * (query, doc) aggregation; top-k is a rank window with group-limit
    * heaps.
    */
  def bm25Retrieve(documents: DataFrame, queries: DataFrame, k: Int = 5,
                   k1: Double = 1.2, b: Double = 0.75,
                   textCol: String = "text", idCol: String = "doc_id",
                   queryIdCol: String = "query_id",
                   queryCol: String = "query_text",
                   scope: graft.ops.CacheScope = graft.ops.CacheScope.default)
      : DataFrame = {
    val toks = tokens(col(textCol))
    val stats = documents.agg(count(lit(1)).as("n_docs"),
      sum(size(toks).cast("long")).as("total_toks"))
    val qTerms = queries.select(col(queryIdCol),
        explode(array_distinct(tokens(col(queryCol)))).as("term"))
    val termSet = qTerms.select(col("term")).distinct()
    // postings pruned to query terms BEFORE any aggregation; registered —
    // the tokenize/explode pipeline feeds both the df count and the
    // scoring join, and must run once, not per consumer
    val postings = scope.register(documents
      .select(col(idCol), size(toks).cast("long").as("dl"),
        explode(toks).as("term"))
      .join(broadcast(termSet), Seq("term"))
      .groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).as("tf")))
    val dfs = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // postings are (term, doc)-distinct
    val avgdl = col("total_toks").cast("double") / col("n_docs").cast("double")
    val scored = qTerms
      .join(postings, Seq("term"))
      .join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        ((col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) *
          (col("tf").cast("double") * lit(k1 + 1)) /
          (col("tf").cast("double") + lit(k1) * (lit(1 - b) +
            lit(b) * col("dl").cast("double") / avgdl)))
      .groupBy(col(queryIdCol), col(idCol))
      // deterministic double accumulation: fold contributions in term order
      .agg(aggregate(
          sort_array(collect_list(struct(col("term"), col("contrib")))),
          lit(0.0), (acc, x) => acc + x.getField("contrib")).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
    RelationalOps.topKPerGroup(scored, Seq(queryIdCol),
        Seq(col("bm25").desc, col(idCol).asc), k)
      .select(col(queryIdCol), col(idCol), col("n_terms_hit"),
        col("bm25"), col("rn").as("rank"))
  }

  /** Per-document sliding-window chunking — the other half of training-data
    * layout (vs [[packSequences]], which concatenates): split each document
    * into `chunkTokens`-token windows that overlap by `overlap` tokens, so
    * no context is lost at chunk boundaries. One row per (doc, chunk):
    * (doc_id, chunk_idx, start, n_tokens, chunk_text).
    *
    * Chunks start at multiples of the stride (`chunkTokens - overlap`); a
    * trailing start whose tokens are all inside the previous chunk (start ≥
    * n - overlap) is suppressed, so every chunk contributes at least one new
    * token. Map-only: tokenize → explode the start sequence → slice; no
    * shuffle, no state — the shape that streams through 100 TB of text at
    * scan speed.
    */
  def chunkDocs(documents: DataFrame, chunkTokens: Int = 64, overlap: Int = 8,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(overlap >= 0 && chunkTokens > overlap,
      s"need 0 <= overlap ($overlap) < chunkTokens ($chunkTokens)")
    val stride = (chunkTokens - overlap).toLong
    val starts = filter(
      sequence(lit(0L), (size(col("toks")) - 1).cast("long"), lit(stride)),
      s => (s === 0L) || (s < (size(col("toks")) - overlap).cast("long")))
    documents
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"), explode(starts).as("start"))
      .select(col(idCol),
        floor(col("start") / stride).cast("int").as("chunk_idx"),
        col("start"),
        least(lit(chunkTokens.toLong),
          size(col("toks")).cast("long") - col("start")).as("n_tokens"),
        array_join(slice(col("toks"), (col("start") + 1).cast("int"), lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Fill-in-the-middle transformation (Bavarian 2022, "Efficient Training
    * of Language Models to Fill in the Middle"): rewrite a deterministic
    * `ratePct`% of documents into PSM order — `<PRE> prefix <SUF> suffix
    * <MID> middle` — so the model learns infilling from the same corpus.
    * Split points are token-level and hash-derived (NOT random): the
    * doc-rate draw, the prefix length p ∈ [0, n] and the middle length
    * m ∈ [0, n−p] each come from an independent seeded [[DetHash.md5Hash60]]
    * stream keyed by doc id, so the transform is a pure per-row function —
    * replayable verbatim by a SQL oracle and bit-stable across runs (the
    * property a resumable 100 TB preprocessing job needs; a `rand()`-based
    * FIM cannot be checkpoint-recovered without persisting its draws).
    * Untransformed docs pass through with `fim_applied = false`.
    *
    * Scale shape: entirely map-only — three hash mods, three array slices,
    * one conditional concat per row; no shuffle, fuses into the scan.
    */
  def fimTransform(documents: DataFrame, ratePct: Int = 50,
                   seed: String = "fim", textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(ratePct >= 0 && ratePct <= 100, s"ratePct in [0,100], got $ratePct")
    def h(tag: String) = DetHash.md5Hash60(
      concat(lit(s"$seed$tag|"), col(idCol).cast("string")))
    val n = size(col("toks")).cast("long")
    def joined(start: Column, len: Column) =
      array_join(slice(col("toks"), (start + 1).cast("int"), len.cast("int")), " ")
    documents
      .select(col(idCol), col(textCol), tokens(col(textCol)).as("toks"))
      .withColumn("fim_applied", pmod(h("0"), lit(100L)) < ratePct)
      .withColumn("p_len", pmod(h("1"), n + 1L))
      .withColumn("m_len", pmod(h("2"), n - col("p_len") + 1L))
      .select(col(idCol), n.as("n_tokens"), col("fim_applied"),
        col("p_len"), col("m_len"),
        when(col("fim_applied"),
          concat(lit("<PRE> "), joined(lit(0L), col("p_len")),
            lit(" <SUF> "), joined(col("p_len") + col("m_len"),
              n - col("p_len") - col("m_len")),
            lit(" <MID> "), joined(col("p_len"), col("m_len"))))
          .otherwise(col(textCol)).as("fim_text"))
  }

  /** Heaps'-law vocabulary growth curve: lay the corpus out as one token
    * stream in `idCol` order, cut it into `nCheckpoints` equal prefixes,
    * and report the number of DISTINCT token types seen by each checkpoint
    * — the does-vocabulary-saturate signal that sizes tokenizers and
    * detects template corpora (a flat tail = no new types = the corpus is
    * repeating itself). Per type the curve needs only its FIRST global
    * occurrence position; the checkpoint a type first lands in is the pure
    * integer `ceil(n·(first_pos+1)/total)`, so the whole curve is exact and
    * engine-replayable. Checkpoints with no new types still emit (0).
    *
    * Scale shape: global positions via the two-level chunk prefix sum (no
    * single-partition window over docs); one (token) aggregation for first
    * positions; the curve itself is ≤ nCheckpoints rows. The per-type
    * min-position aggregation is the only corpus-sized shuffle.
    */
  def vocabGrowth(documents: DataFrame, nCheckpoints: Int = 10,
                  chunkSize: Int = 4096, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nCheckpoints >= 1, s"need nCheckpoints >= 1, got $nCheckpoints")
    val nt = documents
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .withColumn("nt", size(col("toks")).cast("long"))
      .withColumn("chunk", floor(col("id") / chunkSize).cast("long"))
    val baseW = Window.orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = nt.groupBy(col("chunk")).agg(sum(col("nt")).as("ct"))
      .withColumn("base", coalesce(sum(col("ct")).over(baseW), lit(0L)))
      .select(col("chunk"), col("base"))
    val inW = Window.partitionBy(col("chunk")).orderBy(col("id"))
    val withOff = nt.join(broadcast(bases), Seq("chunk"))
      .withColumn("off", col("base") + sum(col("nt")).over(inW) - col("nt"))
    val firsts = withOff
      .select(col("off"), posexplode(col("toks")).as(Seq("p", "tok")))
      .groupBy(col("tok"))
      .agg(min(col("off") + col("p")).as("first_pos"))
    val total = nt.agg(sum(col("nt")).as("total_tokens"))
    val newTypes = firsts.crossJoin(broadcast(total))
      // smallest d with first_pos < (total*d) div n = ceil(n(fp+1)/total) —
      // `div` keeps it exact integer arithmetic (no double quotient)
      .withColumn("checkpoint",
        expr(s"CAST((${nCheckpoints}L * (first_pos + 1) + total_tokens - 1)" +
          " div total_tokens AS INT)"))
      .groupBy(col("checkpoint")).agg(count(lit(1)).as("new_types"))
    val grid = total.select(
      explode(sequence(lit(1), lit(nCheckpoints))).as("checkpoint"),
      col("total_tokens"))
    val wCum = Window.orderBy(col("checkpoint"))
      .rowsBetween(Window.unboundedPreceding, 0) // <= nCheckpoints rows
    grid.join(newTypes, Seq("checkpoint"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .select(col("checkpoint"),
        expr(s"(total_tokens * checkpoint) div $nCheckpoints")
          .as("cutoff_tokens"),
        col("new_types"),
        sum(col("new_types")).over(wCum).as("vocab_size"))
      .orderBy(col("checkpoint"))
  }

  /** T5-style SPAN CORRUPTION (Raffel 2020 §3.1.4): mask hash-chosen
    * fixed-length token spans, emit the corrupted input (each masked run
    * collapsed to ONE numbered sentinel `<Xk>`) and the denoising target
    * (`<Xk>` followed by the span's tokens, per run) — the seq2seq
    * denoising objective's data prep as a pure per-row function. The
    * mask draw is per SPAN (`pos div spanLen`) from a seeded
    * [[DetHash.md5Hash60]] stream, so adjacent masked spans merge into one
    * run exactly as T5's span sampling does, and the whole transform
    * replays from (seed, id) alone — resumable and SQL-auditable where a
    * `rand()` corruption is neither.
    *
    * Scale shape: map-only — one md5 per SPAN (not per token) builds a
    * mask array, then a single `aggregate` fold over token indices builds
    * both output strings in one pass; no explode, no shuffle, fuses into
    * the scan.
    */
  def spanCorrupt(documents: DataFrame, ratePct: Int = 15, spanLen: Int = 3,
                  seed: String = "t5", textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    require(ratePct >= 0 && ratePct <= 100, s"ratePct in [0,100], got $ratePct")
    require(spanLen >= 1, s"spanLen >= 1, got $spanLen")
    val n = size(col("toks")).cast("long")
    val nSpans = ((n + spanLen - 1L) / lit(spanLen.toLong)).cast("long")
    val maskOfSpan = (s: Column) => pmod(DetHash.md5Hash60(
      concat(lit(s"$seed|"), col(idCol).cast("string"), lit("|"),
        s.cast("string"))), lit(100L)) < ratePct
    val fold = aggregate(
      sequence(lit(0L), n - 1L),
      struct(lit("").as("inp"), lit("").as("tgt"),
        lit(0L).as("k"), lit(false).as("prev")),
      (acc, p) => {
        val tok = element_at(col("toks"), (p + 1L).cast("int"))
        val m = element_at(col("masks"),
          (floor(p.cast("double") / spanLen) + 1L).cast("int"))
        val runStart = m && !acc.getField("prev")
        val kStr = acc.getField("k").cast("string")
        struct(
          when(!m, concat(acc.getField("inp"), lit(" "), tok))
            .when(runStart, concat(acc.getField("inp"),
              lit(" <X"), kStr, lit(">")))
            .otherwise(acc.getField("inp")).as("inp"),
          when(runStart, concat(acc.getField("tgt"),
              lit(" <X"), kStr, lit("> "), tok))
            .when(m, concat(acc.getField("tgt"), lit(" "), tok))
            .otherwise(acc.getField("tgt")).as("tgt"),
          (acc.getField("k") + when(runStart, 1L).otherwise(0L)).as("k"),
          m.as("prev"))
      })
    documents
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("masks",
        transform(sequence(lit(0L), nSpans - 1L), maskOfSpan))
      .withColumn("n_masked",
        size(filter(sequence(lit(0L), n - 1L), p => element_at(col("masks"),
          (floor(p.cast("double") / spanLen) + 1L).cast("int"))))
          .cast("long"))
      .withColumn("__f", fold)
      .select(col(idCol), n.as("n_tokens"), col("n_masked"),
        col("__f").getField("k").as("n_spans"),
        ltrim(col("__f").getField("inp")).as("input_text"),
        ltrim(col("__f").getField("tgt")).as("target_text"))
  }

  /** COMPRESSION-RATIO quality signal via a REAL codec: per document, the
    * zlib (java.util.zip.Deflater, fixed level, default strategy) size of
    * the UTF-8 text relative to its raw size, in integer percent —
    * `ratio_centi = 100·deflated/raw` (`div`, exact). Degenerate or
    * templated text deflates far below natural language (the Dolma/
    * RefinedWeb-style "zlib ratio" filter); [[charEntropyReport]] is this
    * signal's order-0 analytic proxy, this is the measured order-∞ one
    * (deflate sees repeated PHRASES, not just character skew). Spec-gated
    * rather than oracle-gated: the byte-exact deflate stream is a codec
    * fact, not a relational one (a SQL engine can't replay it), and the
    * ratio can shift across zlib builds — the tests pin closed-form
    * extremes and the entropy correlation instead.
    *
    * Scale shape: mapPartitions, one Deflater reused per partition (reset
    * per row), a fixed scratch buffer only COUNTED into — no compressed
    * payload is materialized, so the pass costs CPU, not memory; map-only,
    * fuses nothing but needs no shuffle.
    */
  def compressionRatio(documents: DataFrame, thresholdCenti: Int = 40,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    import documents.sparkSession.implicits._
    documents.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](8192)
        val mapped = it.map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          d.reset(); d.setInput(bytes); d.finish()
          var total = 0L
          while (!d.finished()) total += d.deflate(buf)
          (id, bytes.length.toLong, total,
            total * 100L / math.max(bytes.length.toLong, 1L))
        }
        // release the native zlib state deterministically when the
        // partition drains — GC finalization is too late on long-running
        // executors processing many partitions
        new scala.collection.AbstractIterator[(Long, Long, Long, Long)] {
          private var ended = false
          override def hasNext: Boolean = {
            val h = mapped.hasNext
            if (!h && !ended) { ended = true; d.end() }
            h
          }
          override def next(): (Long, Long, Long, Long) = mapped.next()
        }
      }
      .toDF(idCol, "n_bytes", "n_deflate", "ratio_centi")
      .withColumn("low_complexity", col("ratio_centi") < thresholdCenti)
  }

  /** PMI COLLOCATIONS (Church & Hanks 1990): adjacent token pairs whose
    * corpus-wide LIFT `P(w1,w2)/(P(w1)·P(w2))` shows they co-occur far
    * beyond chance — multi-word expressions, named entities, templates.
    * Lift is emitted micro-quantized as
    * `floor(10^6·c12·N / (c1·c2))` computed in DOUBLES with a fixed
    * expression shape (one left-assoc product chain, one quotient, one
    * floor): each IEEE op is exactly rounded, so the identical shape in
    * the SQL oracle yields the same bits, while the former BIGINT form
    * overflowed 2^63 at 100 TB-scale corpora (N ≈ 10^13 bigrams makes
    * 10^6·c12·N overflow for any pair with c12 ≥ 10^3, and c1·c2 soon
    * after). PMI = log2 of lift, monotone — ranking identical. `minCount`
    * prunes the pair tail BEFORE the unigram joins.
    *
    * Scale shape: bigram extraction is a map-only array transform (no
    * self-join of positions); one (w1,w2) and one (w) aggregation; the
    * count attachment is two token-keyed joins of the vocab-sized unigram
    * frame onto the minCount-pruned pair frame.
    */
  def pmiCollocations(documents: DataFrame, minCount: Long = 5L,
                      textCol: String = "text",
                      idCol: String = "doc_id",
                      scope: graft.ops.CacheScope = graft.ops.CacheScope.default)
      : DataFrame = {
    val toks = tokens(col(textCol))
    // native fused tokenize→adjacent-pair expression (the q147 root map
    // cost): same (w1, w2) structs as the interpreted transform/element_at
    // chain, one codegen'd call per document; coalesce keeps the
    // empty-array-on-NULL-text contract
    val pairsArr = coalesce(
      org.apache.spark.sql.graft.bridge.column(
        graft.functions.WordBigramPairs(
          org.apache.spark.sql.graft.bridge.expression(col(textCol)))),
      array().cast("array<struct<w1:string,w2:string>>"))
    val big = documents.select(explode(pairsArr).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    // registered: the unigram table joins on BOTH endpoints — two separate
    // subtrees that would each re-run the corpus tokenize+explode+count
    val uni = scope.register(documents.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c")))
    // N = Σ max(n_tokens−1, 0) map-side — same exact integer as
    // sum(c12), without re-running the corpus bigram explode+shuffle
    val tot = documents
      .agg(sum(greatest(size(toks) - 1, lit(0)).cast("long")).as("n_bigrams"))
    big.filter(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        col("n_bigrams"),
        // lift in doubles, one product chain / one quotient, floor at the
        // end: the BIGINT form (1e6*c12*N) div (c1*c2) overflows 2^63 once
        // corpus bigram count N reaches ~1e13 (100 TB of text) for any pair
        // with c12 >= 1e3, and c1*c2 overflows soon after. IEEE doubles are
        // exactly rounded per op, so the identical expression shape in the
        // DuckDB oracle reproduces the same bits; micro-precision is kept
        // while c12/c1/c2 stay under 2^53 (always: they are <= N per pair).
        floor((lit(1e6) * col("c12").cast("double")
            * col("n_bigrams").cast("double"))
          / (col("c1").cast("double") * col("c2").cast("double")))
          .cast("long").as("lift_micro"))
      .orderBy(col("w1"), col("w2"))
  }

  /** Quality-signal CORRELATION matrix — the redundancy audit over the
    * heuristic battery: pairwise Pearson r between per-doc signals
    * (char/token/distinct-token counts, stopword hits, the micro-quantized
    * quality score). Two signals at r ≈ 1 measure the same thing — drop
    * one before fitting thresholds or a classifier on them; r ≈ 0 signals
    * carry independent evidence. All per-doc signals are exact BIGINTs and
    * every sum/cross-sum accumulates in exact integer arithmetic; only the
    * final Pearson expression runs in doubles, written identically in the
    * SQL oracle (sums cast to double first, the one shared shape both
    * engines round identically).
    *
    * Scale shape: ONE aggregation pass computes n + all 5 sums, 5 squares
    * and 10 cross-products with map-side partials; the matrix is built
    * from that single row — corpus never shuffles, output ≤ 10 rows.
    */
  def signalCorrelationMatrix(documents: DataFrame,
                              textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val sigs: Seq[(String, Column)] = Seq(
      "n_chars" -> length(col(textCol)).cast("long"),
      "n_distinct" -> size(array_distinct(toks)).cast("long"),
      "n_tokens" -> size(toks).cast("long"),
      "quality_micro" -> floor(qualityScore(toks) * 1e6).cast("long"),
      "stop_hits" -> vocabHits(toks, enStopwords).cast("long"))
    val proj = documents.select(sigs.map { case (n, c) => c.as(n) }: _*)
    val aggs =
      sigs.map { case (n, _) => sum(col(n)).as(s"sx_$n") } ++
      sigs.map { case (n, _) => sum(col(n) * col(n)).as(s"sq_$n") } ++
      (for {
        (a, i) <- sigs.zipWithIndex; (b, j) <- sigs.zipWithIndex if i < j
      } yield sum(col(a._1) * col(b._1)).as(s"sp_${a._1}__${b._1}"))
    val row = proj.agg(count(lit(1)).as("n"), aggs: _*)
    def d(c: String) = col(c).cast("double")
    val nD = d("n")
    val pairRows = for {
      (a, i) <- sigs.zipWithIndex; (b, j) <- sigs.zipWithIndex if i < j
    } yield {
      val va = nD * d(s"sq_${a._1}") - d(s"sx_${a._1}") * d(s"sx_${a._1}")
      val vb = nD * d(s"sq_${b._1}") - d(s"sx_${b._1}") * d(s"sx_${b._1}")
      val num = nD * d(s"sp_${a._1}__${b._1}") - d(s"sx_${a._1}") * d(s"sx_${b._1}")
      struct(lit(a._1).as("sig_a"), lit(b._1).as("sig_b"),
        // NULL for a degenerate (constant) signal — r is undefined there
        when(va > 0 && vb > 0, num / (sqrt(va) * sqrt(vb)))
          .otherwise(lit(null).cast("double")).as("pearson_r"))
    }
    row.select(col("n"), explode(array(pairRows: _*)).as("p"))
      .select(col("p.sig_a"), col("p.sig_b"), col("n"), col("p.pearson_r"))
      .orderBy(col("sig_a"), col("sig_b"))
  }

  // ---- BPE merge-table training ----

  /** Record separator (U+001E) used as the symbol delimiter in BPE
    * segmentations — never appears in natural-language tokens; words that do
    * contain it are excluded from training.
    */
  private[graft] val BpeSep = "\u001E"
  private[graft] val BpeSep2: String = BpeSep + BpeSep

  /** A word's segmentation as a guarded delimited string:
    * `⟂⟂sym1⟂⟂sym2⟂⟂...⟂⟂` (where `⟂` = [[BpeSep]]). The double-separator
    * boundary lets a merge of pair (l, r) be applied with a plain literal
    * `replace(seg, ⟂l⟂⟂r⟂, ⟂lr⟂)`: the pattern keeps one guard separator on
    * each side un-consumed, so leftmost non-overlapping replacement — the
    * semantics of both Spark's and every SQL engine's `replace` — is
    * *exactly* the sequential left-to-right BPE merge fold, including runs
    * (`[a,a,a,a]` + (a,a) → `[aa,aa]`, never `[aa,a,a]`). The merged symbol
    * `l+r` is strictly longer than `l`, so it can never seed a second merge
    * within the same pass, matching the fold there too. This is what makes
    * the training replayable verbatim by the DuckDB oracle.
    */
  private def initialSeg(word: Column): Column =
    concat(lit(BpeSep2), array_join(split(word, ""), BpeSep2), lit(BpeSep2))

  private def segSymbols(seg: Column): Column =
    split(trim(seg, BpeSep), BpeSep2)

  private def applyMergeToSeg(seg: Column, l: String, r: String): Column =
    replace(seg, lit(BpeSep + l + BpeSep2 + r + BpeSep), lit(BpeSep + l + r + BpeSep))

  /** Corpus word-frequency table (w, freq), REGISTERED: every tokenizer
    * trainer and the sampling modulus read this ONE tokenize+explode+count
    * pass (the bake-off previously paid it once per trainer). Per-trainer
    * word predicates apply AFTER the aggregation — a per-word filter
    * commutes with the word group-by, so counts are unchanged.
    */
  private def wordFreqs(documents: DataFrame, textCol: String,
                        scope: graft.ops.CacheScope): DataFrame =
    scope.register(documents.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq")))

  /** The merge loop behind [[trainBpe]] and [[trainWordPiece]]: Catalyst
    * computes each sampled word's initial symbols, and one shuffle hands
    * that table to ONE task that runs every round ([[mergeRounds]]).
    * `repartition(1)`, not `coalesce(1)`, so the word count's reduce side
    * stays parallel. Returns (merge_rank, lhs, rhs, merged, pair_count,
    * score) in training order; BPE's score is its pair_count.
    */
  private def trainMergeTable(documents: DataFrame, numMerges: Int,
                              textCol: String, wordSampleK: Long,
                              scope: graft.ops.CacheScope,
                              likelihood: Boolean): DataFrame = {
    require(numMerges >= 1 && numMerges <= 64, "numMerges in [1, 64]")
    val spark = documents.sparkSession
    import spark.implicits._
    maybeSampleWords(
        wordFreqs(documents, textCol, scope)
          .filter(length(col("w")) > 0 && !col("w").contains(BpeSep)),
        "w", wordSampleK)
      .select(col("freq"), segSymbols(initialSeg(col("w"))))
      .repartition(1)
      .rdd.mapPartitions(mergeRounds(_, numMerges, likelihood))
      .collect().toSeq
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count", "score")
  }

  /** Up to `numMerges` rounds over (freq, initial symbols) rows. Each round
    * recounts the frequency-weighted adjacent pairs and symbols, takes the
    * argmax under (score desc, pair_count desc, lhs asc, rhs asc), strings
    * in Spark's UTF-8 byte order, and merges it everywhere with
    * [[mergeFold]]. Symbols are interned by string, as a delimited
    * segmentation keys them. Stops early once no adjacent pair remains.
    */
  private def mergeRounds(rows: Iterator[Row], numMerges: Int,
                          likelihood: Boolean)
      : Iterator[(Int, String, String, String, Long, Long)] = {
    val ids = mutable.HashMap.empty[UTF8String, Int]
    val syms = mutable.ArrayBuffer.empty[UTF8String]
    def intern(s: UTF8String): Int =
      ids.getOrElseUpdate(s, { syms += s; syms.length - 1 })
    val (freqs, words) = rows.map(r => (r.getLong(0), r.getSeq[String](1)
      .map(s => intern(UTF8String.fromString(s))).toArray)).toArray.unzip
    implicit val byteOrder: Ordering[UTF8String] = _.binaryCompare(_)
    Iterator.from(1).take(numMerges).map { rank =>
      val symCnt = new Array[Long](syms.length)
      val pairCnt = mutable.LongMap.empty[Long] // (lhs << 32 | rhs) -> count
      for (i <- words.indices; w = words(i); j <- w.indices) {
        symCnt(w(j)) += freqs(i)
        if (j > 0) {
          val p = (w(j - 1).toLong << 32) | w(j)
          pairCnt(p) = pairCnt.getOrElse(p, 0L) + freqs(i)
        }
      }
      def score(p: Long, pc: Long): Long = if (!likelihood) pc else
        (BigInt(pc) * 1000000000000L /
          (BigInt(symCnt((p >>> 32).toInt)) * symCnt(p.toInt))).toLong
      pairCnt.minByOption { case (p, pc) =>
        (-score(p, pc), -pc, syms((p >>> 32).toInt), syms(p.toInt))
      }.map { case (p, pc) =>
        val (l, r) = ((p >>> 32).toInt, p.toInt)
        val m = intern(UTF8String.concat(syms(l), syms(r)))
        for (i <- words.indices) words(i) = mergeFold(words(i), l, r, m)
        (rank, syms(l).toString, syms(r).toString, syms(m).toString, pc,
          score(p, pc))
      }
    }.takeWhile(_.nonEmpty).flatten
  }

  /** Merges every leftmost non-overlapping (l, r) of a word into m, the
    * semantics of [[applyMergeToSeg]]'s replace: `[a,a,a,a]` + (a,a)
    * gives `[aa,aa]`, never `[aa,a,a]`. */
  private def mergeFold(w: Array[Int], l: Int, r: Int, m: Int): Array[Int] = {
    val out = mutable.ArrayBuilder.make[Int]
    var j = 0
    while (j < w.length)
      if (j + 1 < w.length && w(j) == l && w(j + 1) == r) { out += m; j += 2 }
      else { out += w(j); j += 1 }
    out.result()
  }

  /** BPE merge-table training (Sennrich-style, over whitespace
    * words, character-initial segmentation, no end-of-word marker): for
    * `numMerges` rounds, count adjacent symbol pairs weighted by word
    * frequency, pick the most frequent pair with a TOTAL deterministic
    * tiebreak (count desc, lhs asc, rhs asc), and merge it everywhere.
    * Returns the merge table — the trained model —
    * `(merge_rank, lhs, rhs, merged, pair_count)` in training order.
    *
    * Scale shape: training runs on the WORD-FREQUENCY table, not the corpus
    * — one corpus-wide (word → count) shuffle up front, then every round
    * runs in memory inside ONE task that holds the (sampled) word table:
    * a round is a pass over that table, not a Spark job. A caller at
    * corpus scale bounds the table with `wordSampleK` ([[wordSampleMod]];
    * q193's sf-scaled gate sets it). The returned merge table is
    * model-sized (`numMerges` rows).
    *
    * Training stops early if no adjacent pair remains (corpus fully
    * merged) — with realistic corpora and bounded `numMerges` this does not
    * trigger, and the oracle replays the fixed unrolled iteration count.
    */
  def trainBpe(documents: DataFrame, numMerges: Int = 6,
               textCol: String = "text",
               wordSampleK: Long = 1,
               scope: graft.ops.CacheScope = graft.ops.CacheScope.default)
      : DataFrame =
    trainMergeTable(documents, numMerges, textCol, wordSampleK, scope,
      likelihood = false).drop("score")

  /** WORDPIECE merge-table training (Schuster & Nakajima 2012;
    * the BERT tokenizer's trainer) — the third mainstream subword family
    * beside [[trainBpe]] (frequency rule) and [[trainUnigramLm]]
    * (likelihood EM). WordPiece is BPE's loop with ONE change, the merge
    * SELECTION rule: instead of the most frequent adjacent pair it picks
    * the pair maximizing the likelihood-gain score
    * `count(lhs,rhs) / (count(lhs) · count(rhs))` over the CURRENT
    * symbol unigram counts — preferring pairs whose parts rarely occur
    * apart over pairs that are merely common (the HF-tokenizers training
    * rule; greedy-longest-prefix INFERENCE with `##` continuations is the
    * deliberately-untrained half — segmentation here replays merges via
    * [[applyBpeMerges]], the trainer's own representation, so the
    * fertility rollups consume all three tokenizers unchanged).
    *
    * Determinism: the score is the exact INTEGER FLOOR quotient
    * `(pair_count · 10^12) div (cnt_lhs · cnt_rhs)` — no floating ratio
    * whose rounding could flip an argmax across engines (DuckDB replays it
    * as HUGEINT `//`); ties break (score desc, pair_count desc, lhs asc,
    * rhs asc) — total. 10^12 headroom: pair_count ≤ min(cnt_lhs, cnt_rhs)
    * bounds every score by 10^12.
    *
    * Returns `(merge_rank, lhs, rhs, merged, pair_count, score)` in
    * training order. Scale shape = [[trainBpe]]'s: one word count, then
    * every round inside one task over the (sampled) word table, which
    * also recounts the symbols for the denominator.
    */
  def trainWordPiece(documents: DataFrame, numMerges: Int = 6,
                     textCol: String = "text",
                     wordSampleK: Long = 1,
                     scope: graft.ops.CacheScope = graft.ops.CacheScope.default)
      : DataFrame =
    trainMergeTable(documents, numMerges, textCol, wordSampleK, scope,
      likelihood = true)

  /** The md5 word-sample modulus for the tokenizer tier's sf-scaled gate
    * (the q165/q188 rule applied to the WORD table): k such that roughly
    * `target` distinct words survive `md5(toksub|w) % k == 0`. The
    * denominator is the ORACLE's `words` population — distinct whitespace
    * words with 0 < len ≤ 16 — so the engine's k and the oracle's scalar
    * subquery `greatest(1, count(*) // target)` agree by construction.
    * With k = 1 (small corpora) sampling is the identity.
    */
  def wordSampleMod(documents: DataFrame, target: Long,
                    textCol: String = "text",
                    scope: graft.ops.CacheScope = graft.ops.CacheScope.default)
      : Long = {
    require(target >= 1, "target must be >= 1")
    // distinct-word count straight off the registered word-frequency
    // table (rows are distinct words), not a second corpus explode
    val n = wordFreqs(documents, textCol, scope)
      .filter(length(col("w")) > 0 && length(col("w")) <= 16)
      .count()
    math.max(1L, n / target)
  }

  /** The word-sample predicate paired with [[wordSampleMod]] — a pure
    * function of the word STRING, so training word tables and fertility
    * word counts restrict to the identical set wherever it is applied.
    */
  def wordSamplePred(w: Column, k: Long): Column =
    pmod(DetHash.md5Hash60(concat(lit("toksub|"), w)), lit(k)) === 0

  private def maybeSampleWords(df: DataFrame, wCol: String,
                               k: Long): DataFrame =
    if (k <= 1) df else df.filter(wordSamplePred(col(wCol), k))

  /** Apply a trained merge table to a word column: replays the merges in
    * rank order over the same delimited representation and returns the
    * symbol array — the subword segmentation q44's id-encoding consumes
    * (explode + broadcast-join a symbol vocabulary exactly as
    * [[encodeTokens]] does for whole words). Map-only: the whole merge
    * chain is one fused projection, no shuffle.
    */
  def applyBpeMerges(df: DataFrame, merges: Seq[(String, String)],
                     wordCol: String = "w"): DataFrame = {
    val seg = merges.foldLeft(initialSeg(col(wordCol))) { case (s, (l, r)) =>
      applyMergeToSeg(s, l, r)
    }
    df.withColumn("symbols", segSymbols(seg))
  }

  /** Tokenizer FERTILITY datasheet: train a BPE merge table on the corpus
    * ([[trainBpe]]), segment every word with it ([[applyBpeMerges]]), and
    * report per `groupCol` how many subword symbols the tokenizer spends
    * per whitespace word — THE metric (tokens/word, "fertility") for
    * deciding whether a tokenizer fits a corpus slice: high fertility on a
    * language or source means its text fragments into many subwords and
    * trains/infers expensively. Output: (group, n_words, n_symbols,
    * fertility) with exact integer tallies and fertility their single
    * division (one exact-int quotient — deterministic cross-engine, the
    * q95 datasheet convention).
    *
    * Scale shape: training cost is [[trainBpe]]'s (word-table-bounded); the
    * merge chain then applies to DISTINCT (group, word) pairs — a
    * vocabulary-sized frame, not the corpus — and occurrence counts weight
    * the sums. Two count shuffles (word counts, group rollup), model on the
    * driver at `numMerges` rows.
    */
  def bpeFertility(documents: DataFrame, numMerges: Int = 6,
                   groupCol: String = "source",
                   textCol: String = "text",
                   wordSampleK: Long = 1): DataFrame = {
    val mergeRows = trainBpe(documents, numMerges, textCol, wordSampleK)
      .orderBy(col("merge_rank")).collect()
    val merges = mergeRows.map(r => (r.getString(1), r.getString(2))).toSeq
    mergeFertilityRollup(documents, merges, groupCol, textCol, wordSampleK)
  }

  /** [[bpeFertility]] for a WordPiece model: train
    * ([[trainWordPiece]] — the likelihood rule), segment by replaying the
    * merge chain (the trainer's own representation), roll up per group.
    * Same output shape, so the bake-off stacks all three trainers.
    */
  private def wordPieceFertility(documents: DataFrame, numMerges: Int,
                                 groupCol: String, textCol: String,
                                 wordSampleK: Long): DataFrame = {
    val mergeRows = trainWordPiece(documents, numMerges, textCol, wordSampleK)
      .orderBy(col("merge_rank")).collect()
    val merges = mergeRows.map(r => (r.getString(1), r.getString(2))).toSeq
    mergeFertilityRollup(documents, merges, groupCol, textCol, wordSampleK)
  }

  /** Shared fertility tail for the merge-chain tokenizers (BPE,
    * WordPiece): segment the DISTINCT (group, word) table under the
    * merge chain, weight by occurrence counts, roll up (n_words,
    * n_symbols, fertility) per group — vocabulary-sized apply work plus
    * two count shuffles, never corpus-shaped.
    */
  private def mergeFertilityRollup(documents: DataFrame,
                                   merges: Seq[(String, String)],
                                   groupCol: String,
                                   textCol: String,
                                   wordSampleK: Long): DataFrame = {
    // under sampling, fertility restricts to the SAMPLED words too (the
    // oracle's inner join against the trained segmentations does the same).
    // Registered: the BPE and WordPiece rollups build the IDENTICAL
    // (group, word) table — the second caller reads the first's cache
    val wcounts = graft.ops.CacheScope.default.register(
      maybeSampleWords(documents
        .select(col(groupCol), explode(tokens(col(textCol))).as("w"))
        .filter(length(col("w")) > 0 && !col("w").contains(BpeSep)),
        "w", wordSampleK)
        .groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("n")))
    applyBpeMerges(wcounts, merges)
      .groupBy(col(groupCol))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * size(col("symbols"))).as("n_symbols"))
      .withColumn("fertility",
        col("n_symbols").cast("double") / col("n_words"))
  }

  /** Per-character log-prob penalty (micro-nats) charged for a character
    * the unigram-LM vocabulary does not cover — [[applyUnigramLm]]'s UNK
    * fallback, far below any trained piece's score so a known
    * segmentation always wins. Public so the oracle can embed the same
    * constant.
    */
  val UnigramUnkLlqMicro: Long = -100000000L

  /** Viterbi segmentation of one word under a unigram LM: maximize the
    * sum of piece log-probs (micro-nat integers — EXACT Long arithmetic,
    * so cross-engine replay needs no FP-sum guarantees), total
    * deterministic tiebreak (higher score, then FEWER pieces, then
    * lexicographically smallest piece sequence — all three prefix-
    * decomposable, so per-position DP is exact). Characters outside the
    * vocabulary fall back to single-char UNK pieces at
    * [[UnigramUnkLlqMicro]] (training never hits this — seed singles
    * cover every corpus character and EM can only drop a piece that no
    * best segmentation uses); `allowUnk = false` asserts that invariant.
    */
  private def viterbiSegment(w: String, vocab: scala.collection.Map[String, Long],
                             maxPieceLen: Int,
                             allowUnk: Boolean): Seq[String] = {
    val n = w.length
    // best(i) = (score, nPieces, pieces) for w[0, i); None = unreachable
    val best = new Array[(Long, Int, Vector[String])](n + 1)
    best(0) = (0L, 0, Vector.empty)
    var i = 1
    while (i <= n) {
      var cand: (Long, Int, Vector[String]) = null
      var l = 1
      while (l <= math.min(maxPieceLen, i)) {
        val prev = best(i - l)
        if (prev != null) {
          val piece = w.substring(i - l, i)
          val llq = vocab.get(piece) match {
            case Some(v) => Some(v)
            case None if l == 1 && allowUnk => Some(UnigramUnkLlqMicro)
            case None => None
          }
          llq.foreach { s =>
            val c = (prev._1 + s, prev._2 + 1, prev._3 :+ piece)
            if (cand == null || c._1 > cand._1 ||
                (c._1 == cand._1 && (c._2 < cand._2 ||
                  (c._2 == cand._2 && {
                    import scala.math.Ordering.Implicits._
                    c._3 < cand._3
                  })))) cand = c
          }
        }
        l += 1
      }
      best(i) = cand
      i += 1
    }
    require(best(n) != null,
      s"word '$w' not segmentable under the unigram vocabulary " +
        "(UNK fallback disabled — a training-side invariant was violated)")
    best(n)._3
  }

  /** Shared micro-nat quantization of a piece-count table into a model:
    * llq = floor(ln(cnt/total)·1e6 + 0.5) — ONE quantization per piece
    * (the q100 bigram-LM convention), all downstream scoring exact
    * integer sums.
    */
  private def unigramQuantize(counts: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
    val tot = counts.map(_._2).sum.toDouble
    counts.map { case (p, c) =>
      (p, c, math.floor(math.log(c / tot) * 1e6 + 0.5).toLong)
    }
  }

  /** Distributed UNIGRAM-LM tokenizer training (Kudo 2018 — the
    * SentencePiece trainer's model family), the other mainstream subword
    * trainer beside [[trainBpe]], with every stochastic or FP-fragile
    * choice replaced by a replayable deterministic rule:
    *
    *   - SEED: every substring of length ≤ `maxPieceLen` of the word
    *     table, position-weighted by word frequency; ALL single
    *     characters are kept (coverage guarantee) plus the top `seedSize`
    *     longer pieces under the total order (count desc, piece asc).
    *   - EM (`numRounds` hard-EM rounds — Viterbi E-step, the documented
    *     deterministic variant of SentencePiece's forward-backward; the
    *     soft-count difference only reweights ties at these vocabulary
    *     scales): E-step segments every distinct word under the current
    *     micro-nat scores ([[viterbiSegment]] — integer sums, total
    *     tiebreak), counts piece usage frequency-weighted; M-step
    *     re-estimates scores from the counts. Pieces NO best segmentation
    *     uses drop — the EM-native prune that replaces SentencePiece's
    *     loss-delta shaving (that ranking needs the soft E-step; stated
    *     honestly as this trainer's simplification).
    *
    * Returns the final model `(piece, cnt, llq_micro)` — counts from the
    * last E-step, scores their M-step quantization.
    *
    * Scale shape: one corpus-wide word-count
    * shuffle up front; the seed is one substring explode (≤ len·maxPieceLen
    * rows per DISTINCT word) + a count shuffle + a model-sized top-k;
    * each round is a map-only Viterbi over the distinct-word table
    * against the BROADCAST model (model-sized: ≤ seedSize + alphabet) +
    * one piece-count shuffle; driver transfer per round is the
    * model-sized count table (the KMeans-centroid shape). Words longer
    * than `maxWordLen` are excluded from training (SentencePiece's
    * max-sentencepiece-length analogue, and what bounds the oracle's
    * segmentation enumeration).
    */
  def trainUnigramLm(documents: DataFrame, seedSize: Int = 24,
                     numRounds: Int = 2, maxPieceLen: Int = 4,
                     maxWordLen: Int = 16,
                     textCol: String = "text",
                     wordSampleK: Long = 1,
                     scope: graft.ops.CacheScope = graft.ops.CacheScope.default)
      : DataFrame = {
    require(numRounds >= 1 && numRounds <= 16, "numRounds in [1, 16]")
    require(seedSize >= 1 && maxPieceLen >= 1 && maxWordLen >= 1, "positive knobs")
    val spark = documents.sparkSession
    import spark.implicits._
    val words = maybeSampleWords(
      wordFreqs(documents, textCol, scope)
        .filter(length(col("w")) > 0 && length(col("w")) <= maxWordLen),
      "w", wordSampleK)
      .localCheckpoint() // consumed once per round — truncate + materialize
    // position-weighted substring counts: one explode per distinct word
    val subs = words.select(col("freq"), explode(flatten(
        transform(sequence(lit(1), length(col("w"))), i =>
          transform(sequence(lit(1),
              least(lit(maxPieceLen), length(col("w")) - i + lit(1))), l =>
            col("w").substr(i, l))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val singles = subs.filter(length(col("piece")) === 1)
    val multi = subs.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece").asc).limit(seedSize)
    var model = unigramQuantize(
      singles.unionByName(multi).as[(String, Long)].collect().toSeq
        .sortBy(_._1))
    (1 to numRounds).foreach { _ =>
      val bc = spark.sparkContext.broadcast(
        model.map(m => m._1 -> m._3).toMap)
      val counts = words.as[(String, Long)]
        .flatMap { case (w, f) =>
          viterbiSegment(w, bc.value, maxPieceLen, allowUnk = false)
            .map(p => (p, f))
        }
        .groupBy(col("_1").as("piece")).agg(sum(col("_2")).as("cnt"))
        .as[(String, Long)].collect().toSeq.sortBy(_._1) // model-sized
      model = unigramQuantize(counts)
      bc.destroy()
    }
    CacheScope.freeCheckpoint(words)
    model.toDF("piece", "cnt", "llq_micro")
  }

  /** Segment a word column under a trained unigram-LM model
    * ([[trainUnigramLm]]'s `(piece, llq_micro)` pairs): adds `symbols`,
    * the Viterbi piece array — [[applyBpeMerges]]'s contract, so q44-style
    * id-encoding and the fertility rollup consume either tokenizer
    * unchanged. Out-of-vocabulary CHARACTERS (unseen in training) fall
    * back to single-char pieces at [[UnigramUnkLlqMicro]] — total on any
    * input, never a dropped word. Scale shape: the Viterbi runs on the
    * DISTINCT words of the frame against the broadcast model, then one
    * hash join attaches segmentations back — vocabulary-sized work plus a
    * word-keyed join, regardless of row count.
    */
  def applyUnigramLm(df: DataFrame, model: Seq[(String, Long)],
                     wordCol: String = "w",
                     maxPieceLen: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.toMap)
    val segs = df.select(col(wordCol).cast("string").as("w")).distinct()
      .as[String]
      .map(w => (w, viterbiSegment(w, bc.value, maxPieceLen,
        allowUnk = true).toArray))
      .toDF(wordCol, "symbols")
    df.join(segs, wordCol)
  }

  /** [[bpeFertility]] for the unigram-LM tokenizer: train
    * ([[trainUnigramLm]]), segment every distinct (group, word)
    * ([[applyUnigramLm]]), report tokens-per-word per `groupCol` — same
    * exact-tally datasheet, same scale shape (training word-table-bound,
    * apply on distinct pairs, two count shuffles).
    */
  def unigramFertility(documents: DataFrame, seedSize: Int = 24,
                       numRounds: Int = 2, maxPieceLen: Int = 4,
                       groupCol: String = "source",
                       textCol: String = "text",
                       wordSampleK: Long = 1): DataFrame = {
    val model = trainUnigramLm(documents, seedSize, numRounds, maxPieceLen,
        textCol = textCol, wordSampleK = wordSampleK)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    val wcounts = maybeSampleWords(documents
      .select(col(groupCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0), "w", wordSampleK)
      .groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("n"))
    applyUnigramLm(wcounts, model, maxPieceLen = maxPieceLen)
      .groupBy(col(groupCol))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * size(col("symbols"))).as("n_symbols"))
      .withColumn("fertility",
        col("n_symbols").cast("double") / col("n_words"))
  }

  /** The tokenizer BAKE-OFF datasheet: [[bpeFertility]] and
    * [[unigramFertility]] over the same corpus, stacked with a
    * `tokenizer` tag — the side-by-side tokens-per-word comparison that
    * decides which trainer fits a corpus slice before committing the
    * (expensive, corpus-wide) encode. Both tokenizers see identical
    * whitespace words; rows differ only in how the trained model
    * fragments them.
    */
  def tokenizerFertilityComparison(documents: DataFrame, numMerges: Int = 6,
                                   seedSize: Int = 24, numRounds: Int = 2,
                                   maxPieceLen: Int = 4,
                                   groupCol: String = "source",
                                   textCol: String = "text",
                                   wordSampleK: Long = 1): DataFrame =
    bpeFertility(documents, numMerges, groupCol, textCol, wordSampleK)
      .withColumn("tokenizer", lit("bpe"))
      .unionByName(
        unigramFertility(documents, seedSize, numRounds, maxPieceLen,
          groupCol, textCol, wordSampleK)
          .withColumn("tokenizer", lit("unigram")))
      .unionByName(
        wordPieceFertility(documents, numMerges, groupCol, textCol,
          wordSampleK)
          .withColumn("tokenizer", lit("wordpiece")))

  /** PII regexes shared by engine and oracle — PORTABLE subset only
    * (char classes, bounded repeats, ASCII \b): Java regex (Spark) and
    * RE2 (DuckDB) agree on every construct used, so redaction is
    * bit-identical cross-engine. Public so the oracle SQL embeds the
    * same literals.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII detection + redaction — the C4/RefinedWeb scrubbing stage:
    * emails, IPv4 addresses and US-style phone numbers are counted on the
    * ORIGINAL text and replaced by sentinel tokens (`<EMAIL>`, `<IP>`,
    * `<PHONE>`), applied in that fixed order (emails first — their local
    * parts can contain digit runs the narrower patterns would otherwise
    * chew on). Output: (doc_id, n_emails, n_ips, n_phones, text) with
    * `text` fully redacted. Counts are integers and the replacement chain
    * is the same three regexp_replace calls in both engines, so the gate
    * compares the redacted TEXT itself, not just tallies.
    *
    * Scale shape: ENTIRELY map-only — three regex counts and a three-step
    * replace per document, no shuffle, no model. At 100 TB this is the
    * cheapest stage in the pipeline (one pass, pure codegen'd string ops).
    */
  def piiRedact(documents: DataFrame, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    documents.select(col(idCol),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(t, EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>").as(textCol))
  }

  /** Script names and their Java character classes, alphabetical — the
    * evaluation order of [[scriptMix]]'s majority CASE, so ties resolve
    * to the alphabetically-first script in both engines. The oracle spells
    * the same classes in RE2 syntax (`\p{Latin}`); both engines implement
    * the Unicode script property, verified equal on the test fixtures.
    */
  private val Scripts: Seq[(String, String)] = Seq(
    "arabic" -> "\\p{IsArabic}", "cyrillic" -> "\\p{IsCyrillic}",
    "greek" -> "\\p{IsGreek}", "han" -> "\\p{IsHan}",
    "latin" -> "\\p{IsLatin}")

  /** Unicode SCRIPT-MIX audit (the mC4/CCNet script-confusion signal):
    * per document, character counts for the five major scripts plus
    * digits, the majority script (alphabetically-first on ties, NULL when
    * no script character occurs) and a `mixed_script` flag — 1 when
    * minority-script characters are at least 10% of all script characters
    * (`10·(n_script − max) ≥ n_script`, integer arithmetic only). Mixed-
    * script text is a strong spam/obfuscation signal (phishing homoglyphs,
    * keyword-stuffed pages) and a routing input for script-specific
    * tokenizers; [[langId]] assumes a script, this says WHICH.
    *
    * Scale shape: ENTIRELY map-only — six regexp counts and integer
    * arithmetic per document, no shuffle, no state; composes with any
    * per-doc quality gate at zero plan cost (the cheapest 100 TB pass
    * beside [[piiRedact]]).
    */
  def scriptMix(documents: DataFrame, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val counts = Scripts.map { case (n, re) =>
      regexp_count(col(textCol), lit(re)).cast("long").as(s"n_$n")
    }
    val base = documents.select(
      (col(idCol) +: counts :+
        regexp_count(col(textCol), lit("[0-9]")).cast("long").as("n_digit")): _*)
      .withColumn("n_script",
        Scripts.map(s => col(s"n_${s._1}")).reduce(_ + _))
    val maxc = greatest(Scripts.map(s => col(s"n_${s._1}")): _*)
    val majority = Scripts.foldRight(lit(null).cast("string")) {
      case ((n, _), els) => when(col(s"n_$n") === maxc, lit(n)).otherwise(els)
    }
    base
      .withColumn("majority_script",
        when(col("n_script") === 0L, lit(null).cast("string"))
          .otherwise(majority))
      .withColumn("mixed_script",
        when(col("n_script") > 0L &&
          lit(10L) * (col("n_script") - maxc) >= col("n_script"), 1L)
          .otherwise(0L))
  }

  /** Per-source token-distribution drift: the data-side sibling of
    * [[graft.ops.SimilarityOps.ivfDriftSummary]]. Each source's token
    * distribution is histogrammed over `nBuckets` hashed buckets
    * ([[graft.ops.DetHash.md5Hash60]] mod nBuckets — the cross-engine
    * hash, so the oracle replays the exact same binning) and compared to
    * the corpus-wide distribution with a chi-square statistic: with
    * o = observed bucket count and e = expected (corpus bucket share ×
    * source total), chi2 = Σ (o−e)²/e over the corpus-live buckets.
    * A source whose mean per-dof chi-square exceeds
    * `driftThresholdMicro` (micro-units; default 2.0 — far beyond any
    * plausible sampling fluctuation at corpus scale) is flagged
    * `drifted` = 1: its vocabulary mix diverges from the corpus enough
    * that source-conditioned sampling or a dedicated quality pass is
    * warranted. Output per source: (source, n_tokens, dof, chi2_micro,
    * ratio_micro, drifted), all integers.
    *
    * Determinism: each bucket's chi-square term is computed in ONE double
    * expression shape ((o−e)·(o−e)/e with e a product-then-quotient —
    * identical IEEE results cross-engine), quantized to micro BEFORE the
    * per-source sum, so both engines sum ≤ nBuckets integers (the
    * quantize-before-compare contract; integer sums are fold-order-free).
    *
    * Scale shape: ONE corpus-scale shuffle — the (source, bucket) count
    * with map-side partials onto ≤ nSources × nBuckets groups. Everything
    * downstream (per-source totals, per-bucket corpus totals, the
    * zero-filled grid) operates on that tiny aggregate; the grid joins are
    * broadcasts. No window, no driver collect.
    */
  def sourceTokenDrift(documents: DataFrame, nBuckets: Int = 64,
                       driftThresholdMicro: Long = 2000000L,
                       textCol: String = "text",
                       srcCol: String = "source"): DataFrame = {
    require(nBuckets >= 2, "need at least 2 buckets for a distribution")
    val counts = documents
      .select(col(srcCol).as("source"), explode(tokens(col(textCol))).as("term"))
      .withColumn("bucket", DetHash.md5Hash60(col("term")) % lit(nBuckets.toLong))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("o"))
    val perSource = counts.groupBy(col("source")).agg(sum(col("o")).as("n_src"))
    val perBucket = counts.groupBy(col("bucket")).agg(sum(col("o")).as("c_b"))
    val totals = counts.agg(sum(col("o")).as("n_total"),
      count_distinct(col("bucket")).as("n_live"))
    // zero-filled grid over the corpus-live buckets: a missing (source,
    // bucket) cell still contributes (0−e)²/e = e to the statistic
    val e = (col("c_b").cast("double") * col("n_src").cast("double")) /
      col("n_total").cast("double")
    val od = coalesce(col("o"), lit(0L)).cast("double")
    val termMicro = floor(((od - e) * (od - e) / e) * lit(1e6) + lit(0.5))
      .cast("long")
    // null-safe source match (a NULL source is a real group, the q95
    // lesson); renamed columns dodge the shared-lineage ambiguity
    val cellCounts = counts.select(col("source").as("c_source"),
      col("bucket").as("c_bucket"), col("o"))
    perSource
      .crossJoin(broadcast(perBucket))
      .join(cellCounts,
        col("source") <=> col("c_source") && col("bucket") === col("c_bucket"),
        "left")
      .crossJoin(broadcast(totals))
      .select(col("source"), col("n_src"), col("n_live"),
        termMicro.as("term_micro"))
      .groupBy(col("source"))
      .agg(max(col("n_src")).as("n_tokens"),
        (max(col("n_live")) - 1L).as("dof"),
        sum(col("term_micro")).as("chi2_micro"))
      .withColumn("ratio_micro", expr("chi2_micro div dof"))
      .withColumn("drifted",
        when(col("ratio_micro") > driftThresholdMicro, 1L).otherwise(0L))
      .orderBy(col("source").asc_nulls_last)
  }

  /** TEMPERATURE-SAMPLED source mixture (the Gopher/PaLM α = 0.5 recipe):
    * a source with n_s tokens gets sampling weight √n_s / Σ√n_t — big
    * sources are down-weighted, small ones up-weighted, between uniform
    * (α = 0) and proportional (α = 1). For a token budget `budgetTokens`
    * the plan emits each source's target token count and the implied
    * epoch factor (target/available — over 10^6 means the source repeats).
    *
    * Determinism: √n is a SINGLE exactly-rounded IEEE operation (identical
    * cross-engine), quantized to micro BEFORE the denominator sum — the
    * denominator is then an integer sum (fold-order-free). The downstream
    * ratios are one-product-one-quotient double expressions (each op
    * exactly rounded, so bit-identical cross-engine) floored to integers —
    * NOT `bigint` products, which would overflow at 100 TB token counts
    * (budget · sqrt_micro ≈ 10^13 · 10^12 ≫ 2^63). No double ever crosses
    * an aggregation.
    *
    * Output per source: (source, n_tokens, sqrt_micro, weight_micro,
    * target_tokens, epochs_micro), ordered by source NULLS LAST.
    *
    * Scale shape: ONE corpus-scale count shuffle (source groups,
    * map-side partials); the mixture arithmetic runs on the ≤ nSources-row
    * aggregate with a broadcast total. Compose with hashRankSample /
    * hashStratifiedSample to materialize the mixture — target_tokens is
    * exactly the per-stratum budget those samplers take.
    */
  def temperatureMixture(documents: DataFrame, budgetTokens: Long,
                         textCol: String = "text",
                         srcCol: String = "source"): DataFrame = {
    require(budgetTokens > 0, "need a positive token budget")
    val perSource = documents
      .select(col(srcCol).as("source"), size(tokens(col(textCol))).as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
      .withColumn("sqrt_micro",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long"))
    val denom = perSource.agg(sum(col("sqrt_micro")).as("denom"))
    perSource.crossJoin(broadcast(denom))
      .withColumn("weight_micro",
        floor((lit(1e6) * col("sqrt_micro").cast("double"))
          / col("denom").cast("double")).cast("long"))
      .withColumn("target_tokens",
        floor((lit(budgetTokens.toDouble) * col("sqrt_micro").cast("double"))
          / col("denom").cast("double")).cast("long"))
      .withColumn("epochs_micro",
        floor((lit(1e6) * col("target_tokens").cast("double"))
          / col("n_tokens").cast("double")).cast("long"))
      .select(col("source"), col("n_tokens"), col("sqrt_micro"),
        col("weight_micro"), col("target_tokens"), col("epochs_micro"))
      .orderBy(col("source").asc_nulls_last)
  }

  /** MATERIALIZE the [[temperatureMixture]] plan as a per-document draw:
    * each source contributes `full_epochs` = target div available complete
    * passes, plus a PARTIAL epoch — the hash-ordered greedy prefix of
    * documents whose cumulative token count starts before the remaining
    * budget (target mod available). The partial prefix is ordered by
    * (md5(salt|doc_id), doc_id) — reproducible across runs, engines and
    * cluster sizes, and a different salt redraws the prefix without
    * touching the weights. Output per document: (source, doc_id,
    * n_doc_tokens, full_epochs, in_partial 0/1) — the complete sampling
    * decision for an epoch-aware reader (`full_epochs + in_partial` copies
    * of each doc).
    *
    * Scale shape: the per-source running token sum NEVER runs as one
    * global window — the hash's high bits bucket each source's docs
    * ([[graft.ops.RelationalOps.deterministicShuffle]]'s lemma: ordering
    * by (bucket, hash, id) IS the (hash, id) order), within-bucket cumsums
    * run partitioned by (source, bucket), and bucket offsets come from a
    * broadcast ≤ nSources·2^bucketBits aggregate. Size `bucketBits` so a
    * bucket of ONE source fits an executor (≈ log2(largest_source_bytes /
    * 256 MB)).
    */
  def temperatureAssignments(documents: DataFrame, budgetTokens: Long,
                             salt: String = "mix", bucketBits: Int = 10,
                             textCol: String = "text",
                             srcCol: String = "source",
                             idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketBits >= 1 && bucketBits <= 30, "bucketBits in [1,30]")
    val mix = temperatureMixture(documents, budgetTokens, textCol, srcCol)
      .select(col("source").as("m_source"), col("n_tokens"),
        col("target_tokens"))
      .withColumn("full_epochs", expr("target_tokens div n_tokens"))
      .withColumn("rem_tokens", expr("target_tokens % n_tokens"))
    val h = DetHash.md5Hash60(
      concat(lit(salt + "|"), col(idCol).cast("string")))
    val docs = documents.select(col(srcCol).as("source"), col(idCol),
        size(tokens(col(textCol))).cast("long").as("n_doc_tokens"))
      .withColumn("__h", h)
      .withColumn("__b", shiftright(col("__h"), 60 - bucketBits))
    // per-(source, bucket) token totals → exclusive prefix sums over the
    // tiny aggregate (window on ≤ nSources·2^bucketBits rows), broadcast
    val wOff = Window.partitionBy(col("o_source")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy(col("source").as("o_source"), col("__b"))
      .agg(sum(col("n_doc_tokens")).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(wOff), lit(0L)))
      .select(col("o_source"), col("__b").as("o_b"), col("__off"))
    val wCum = Window.partitionBy(col("source"), col("__b"))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .join(broadcast(offsets),
        col("source") <=> col("o_source") && col("__b") === col("o_b"))
      .withColumn("__pre",
        col("__off") + coalesce(sum(col("n_doc_tokens")).over(wCum), lit(0L)))
      .join(broadcast(mix), col("source") <=> col("m_source"))
      .select(col("source"), col(idCol), col("n_doc_tokens"),
        col("full_epochs"),
        when(col("__pre") < col("rem_tokens"), 1L).otherwise(0L)
          .as("in_partial"))
      .orderBy(col("source").asc_nulls_last, col(idCol))
  }

  /** SHARD PLAN — the manifest of the "write the training shards" step:
    * documents take the deterministic global order (md5(salt|id), id) —
    * [[graft.ops.RelationalOps.deterministicShuffle]]'s permutation — and
    * a document starting at running-token position p lands in shard
    * p div tokensPerShard (greedy: a boundary-spanning doc belongs to the
    * shard it STARTS in, so shards overshoot by at most one document).
    * Output per shard: (shard_id, n_docs, n_tokens, start_tok, end_tok)
    * with end_tok exclusive — a reader can fetch any shard knowing its
    * exact token interval, and the plan replays identically on any engine
    * or cluster size.
    *
    * Scale shape: the global running token sum is two-level — hash-prefix
    * buckets, one tiny (≤ 2^bucketBits row) broadcast offsets aggregate,
    * within-bucket windows — never a global window; the manifest rollup
    * shuffles ≤ one row per shard. Size `bucketBits` as in
    * [[graft.ops.RelationalOps.deterministicShuffle]].
    */
  def shardPlan(documents: DataFrame, tokensPerShard: Long,
                salt: String = "shard", bucketBits: Int = 10,
                textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    require(tokensPerShard >= 1, "need a positive shard size")
    val h = DetHash.md5Hash60(
      concat(lit(salt + "|"), col(idCol).cast("string")))
    val docs = documents.select(col(idCol),
        size(tokens(col(textCol))).cast("long").as("n_doc_tokens"))
      .withColumn("__h", h)
    shardManifest(withGlobalTokenPrefix(docs, Seq(col(idCol)), bucketBits),
      tokensPerShard)
  }

  /** Exclusive global running sum of `n_doc_tokens` in the total order
    * (__h, tieBreak...) — the two-level form every sharding/draw operator
    * here shares: hash-prefix buckets from __h's high bits, a broadcast
    * ≤ 2^bucketBits offsets aggregate, within-bucket windows. Adds `__pre`.
    */
  private def withGlobalTokenPrefix(df: DataFrame, tieBreak: Seq[Column],
                                    bucketBits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketBits >= 1 && bucketBits <= 30, "bucketBits in [1,30]")
    val withB = df.withColumn("__b", shiftright(col("__h"), 60 - bucketBits))
    val wOff = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withB.groupBy(col("__b"))
      .agg(sum(col("n_doc_tokens")).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(wOff), lit(0L)))
      .select(col("__b").as("o_b"), col("__off"))
    val wCum = Window.partitionBy(col("__b"))
      .orderBy(col("__h") +: tieBreak: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    withB.join(broadcast(offsets), col("__b") === col("o_b"))
      .withColumn("__pre",
        col("__off") + coalesce(sum(col("n_doc_tokens")).over(wCum), lit(0L)))
  }

  /** Greedy manifest rollup over a frame carrying (__pre, n_doc_tokens). */
  private def shardManifest(positioned: DataFrame,
                            tokensPerShard: Long): DataFrame =
    positioned
      .withColumn("shard_id", expr(s"__pre div $tokensPerShard"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_doc_tokens")).as("n_tokens"),
        min(col("__pre")).as("start_tok"),
        max(col("__pre") + col("n_doc_tokens")).as("end_tok"))
      .orderBy(col("shard_id"))

  /** The Gopher rule battery's stopword list (Rae et al. 2021, App. A):
    * a document should contain at least `minStopHits` distinct words from
    * this set. ONE definition consumed by the Spark query, the SQL oracle
    * and the tests.
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** GOPHER quality-rule battery (Rae et al. 2021, Appendix A): the
    * published per-document filter rules as individual 0/1 flags plus the
    * combined pass — word count within [minWords, maxWords], mean word
    * length within [3, 10] characters, symbol-to-word ratio (`#`/`...`
    * tokens) at most 10%, at least 80% of words containing an alphabetic
    * character, and at least `minStopHits` distinct [[gopherStopwords]].
    * Returning every rule separately (not just the conjunction) is the
    * point: a corpus datasheet wants to know WHICH rule a slice fails,
    * and thresholds get re-tuned per corpus. The line-based rules
    * (bullet-start / ellipsis-end line ratios) need multi-line documents
    * and are out of scope for the single-line synthetic corpus.
    *
    * Every ratio quantizes to micro (floor of one product-then-quotient
    * double) BEFORE its integer comparison — quantize-before-compare, so
    * the flags are bit-identical cross-engine. Defaults adapt the
    * published 50-word floor to 30 for short-document corpora; the
    * thresholds are the published ones otherwise.
    *
    * Scale shape: ENTIRELY map-only — the token array materializes once
    * per row (HOFs don't CSE — the [[withQualityScore]] bind), five array
    * scans and integer arithmetic derive every flag, no shuffle, no state.
    * With [[piiRedact]] and [[scriptMix]] this is among the cheapest
    * 100 TB passes in the pipeline.
    */
  def gopherRules(documents: DataFrame, minWords: Long = 30L,
                  maxWords: Long = 100000L, minStopHits: Long = 1L,
                  textCol: String = "text"): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords, "need 1 <= minWords <= maxWords")
    val keep = col("doc_id")
    val base = documents.select(keep, tokens(col(textCol)).as("__toks"))
    val tk = col("__toks")
    val micro = (num: Column, den: Column) =>
      floor(lit(1e6) * num.cast("double") / den.cast("double")).cast("long")
    val stats = base.select(keep,
      size(tk).cast("long").as("n_words"),
      micro(totalTokenLen(tk), size(tk)).as("mean_len_micro"),
      micro(size(filter(tk, t => t.rlike("#|\\.\\.\\."))), size(tk))
        .as("symbol_ratio_micro"),
      micro(size(filter(tk, t => t.rlike("\\p{L}"))), size(tk))
        .as("alpha_frac_micro"),
      size(filter(typedlit(gopherStopwords), w => array_contains(tk, w)))
        .cast("long").as("n_stop_hits"))
    val flag = (c: Column) => when(c, 1L).otherwise(0L)
    stats
      .withColumn("r_wordcount",
        flag(col("n_words") >= minWords && col("n_words") <= maxWords))
      .withColumn("r_meanlen", flag(col("mean_len_micro") >= 3000000L &&
        col("mean_len_micro") <= 10000000L))
      .withColumn("r_symbol", flag(col("symbol_ratio_micro") <= 100000L))
      .withColumn("r_alpha", flag(col("alpha_frac_micro") >= 800000L))
      .withColumn("r_stop", flag(col("n_stop_hits") >= minStopHits))
      .withColumn("pass", col("r_wordcount") * col("r_meanlen") *
        col("r_symbol") * col("r_alpha") * col("r_stop"))
      .orderBy(col("doc_id"))
  }

  /** TRAINING-RUN shards — the round-trip of the whole sampling tier in
    * one operator: [[temperatureAssignments]] decides how many copies of
    * each document the run reads (complete epochs + the greedy partial
    * prefix), every copy gets its own position in a deterministic global
    * interleave keyed by md5(salt|epoch|doc_id) — epochs MIX rather than
    * concatenate, the shuffle property epoch-aware readers want — and the
    * interleaved stream is cut into `tokensPerShard` greedy shards. Output:
    * the shard manifest (shard_id, n_docs, n_tokens, start_tok, end_tok),
    * where n_docs counts COPIES. Same budget, salt and engine → the same
    * bytes in the same shard order, on any cluster size.
    *
    * Scale shape: the draw inherits X116's shapes; the epoch expansion is
    * a map-only `sequence` explode (rows = drawn copies, bounded by
    * budget/avg-doc-tokens); positions use the same two-level prefix sum —
    * never a global window.
    */
  def trainingShards(documents: DataFrame, budgetTokens: Long,
                     tokensPerShard: Long, salt: String = "train",
                     bucketBits: Int = 10, textCol: String = "text",
                     srcCol: String = "source",
                     idCol: String = "doc_id"): DataFrame = {
    require(tokensPerShard >= 1, "need a positive shard size")
    val draw = temperatureAssignments(documents, budgetTokens,
      salt + "-mix", bucketBits, textCol, srcCol, idCol)
    val copies = draw
      .withColumn("__nc", col("full_epochs") + col("in_partial"))
      .filter(col("__nc") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__nc") - 1)))
    val h = DetHash.md5Hash60(concat(lit(salt + "|"),
      col("epoch").cast("string"), lit("|"), col(idCol).cast("string")))
    shardManifest(
      withGlobalTokenPrefix(copies.withColumn("__h", h),
        Seq(col(idCol), col("epoch")), bucketBits),
      tokensPerShard)
  }

  /** Per-source CORPUS CARD — the one-table artifact a mixture planner
    * reads before weighting sources: document and token volume, mean doc
    * length and mean quality (micro-quantized), exact vocabulary size,
    * and the exact-duplicate load (docs whose content digest repeats
    * WITHIN the source, as a micro fraction). Every column is exact
    * arithmetic over the primitives the per-doc tiers verify (q18 digests,
    * q20 quality, q43 token types), so the whole card replays in SQL —
    * mean doc tokens uses the one-product-one-quotient DOUBLE shape
    * (10^6·Σnt overflows 2^63 at ~10^13 tokens per source; IEEE ops are
    * exactly rounded, the oracle mirrors the shape bit-for-bit), while the
    * quality mean and dup fraction stay pure integers (bounded by
    * 10^6·n_docs).
    *
    * Scale shape: one doc-grain pass computes length/quality/digest; the
    * dup load is a (source, digest) window feeding the same per-source
    * aggregation; vocabulary is the one token explode with a
    * (source, token)-distinct aggregate; output = one row per source. At
    * 100 TB swap the exact distinct for approx_count_distinct and state
    * the error bound — every other column is a linear pass.
    */
  def corpusCard(documents: DataFrame, textCol: String = "text",
                 srcCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col(textCol))
    val perDoc = documents.select(col(srcCol).cast("string").as("source"),
      size(toks).cast("long").as("nt"),
      floor(qualityScore(toks) * 1e6).cast("long").as("q_micro"),
      md5(col(textCol)).as("digest"))
    val withDup = perDoc.withColumn("grp",
      count(lit(1)).over(Window.partitionBy(col("source"), col("digest"))))
    val base = withDup.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("nt")).as("total_tokens"),
      expr("""CAST(floor((1000000.0 * CAST(sum(nt) AS DOUBLE))
             / CAST(count(1) AS DOUBLE)) AS BIGINT)""")
        .as("mean_doc_tokens_micro"),
      expr("sum(q_micro) div count(1)").as("mean_quality_micro"),
      sum(when(col("grp") >= 2, 1L).otherwise(0L)).as("dup_docs"))
    val vocab = documents.select(col(srcCol).cast("string").as("source"),
        explode(toks).as("w"))
      .groupBy(col("source"))
      .agg(count_distinct(col("w")).as("n_token_types"))
    base.join(vocab, base("source") <=> vocab("source"), "left")
      .select(base("source"), col("n_docs"), col("total_tokens"),
        col("mean_doc_tokens_micro"), col("mean_quality_micro"),
        coalesce(col("n_token_types"), lit(0L)).as("n_token_types"),
        col("dup_docs"),
        expr("(1000000 * dup_docs) div n_docs").as("dup_frac_micro"))
  }

  /** MIXTURE CUBE — the (source × lang) GROUPING-SETS datasheet a mixture
    * planner slices: one CUBE aggregation emits the detail cells, both
    * one-dimension rollups, and the grand total, each tagged with the
    * native `grouping_id` bitmask (bit set = dimension rolled up — the
    * disambiguator that makes a genuinely-NULL dimension value
    * distinguishable from a rolled-up one). Volume measures per cell:
    * doc count, token total, and the q159 mean-doc-tokens double shape.
    *
    * Scale shape: ONE aggregation pass — Spark expands each input row to
    * its 4 grouping sets with full map-side partial aggregation, so the
    * shuffle carries ≤ 4× the distinct-cell count (dimension-bounded, not
    * corpus-bounded), and the rollups are NOT recomputed per level the
    * way 4 separate groupBys would rescan the corpus 4 times.
    */
  def mixtureCube(documents: DataFrame, textCol: String = "text",
                  dims: Seq[String] = Seq("source", "lang")): DataFrame = {
    val base = documents.select(
      dims.map(c => col(c).cast("string").as(c)) :+
        size(tokens(col(textCol))).cast("long").as("nt"): _*)
    base.cube(dims.map(col): _*)
      .agg(grouping_id().cast("int").as("grouping_lvl"),
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        floor((lit(1000000.0) * sum(col("nt")).cast("double")) /
            count(lit(1)).cast("double")).cast("long")
          .as("mean_doc_tokens_micro"))
      .select((col("grouping_lvl") +: dims.map(col)) ++
        Seq(col("n_docs"), col("total_tokens"),
          col("mean_doc_tokens_micro")): _*)
  }

  // --------------------------------------------------------------------
  // PERSISTED lexical retrieval — the index-once / probe-many production
  // shape the in-session scorers ([[bm25]] fixed-term, [[bm25Retrieve]]
  // posting-list) stop short of, and the LEXICAL twin of the persisted
  // ANN tier (writeIvfIndex / ensureBandedIndex): candidate retrieval and
  // decontamination by term overlap, served from a bucketed inverted
  // index the corpus never re-shuffles. Same Okapi BM25 (k1 = 1.2,
  // b = 0.75) and RATIO idf `(N - df + 0.5) / (df + 0.5)` no-libm
  // contract as [[bm25]]; three additions over the in-session pair:
  //   - N-GRAM terms ([[ngramTerms]]) — the decontamination unit, and
  //     what keeps the df spectrum informative on unigram-dense corpora;
  //   - stopword-band DF PRUNING (`maxDfPpm`) — the Lucene stop-filter
  //     rule, which is also what bounds the worst posting list at 100 TB;
  //   - per-term contributions MICRO-QUANTIZED to BIGINT before the
  //     per-document sum (the DSIR trick): integer sums are order-free,
  //     cheaper than [[bm25Retrieve]]'s sort-and-fold double accumulation
  //     and equally partition/engine-independent.
  // --------------------------------------------------------------------

  /** Terms a BM25 pass scores: df-pruned at `maxDfPpm` — a term appearing
    * in more than `maxDfPpm` ppm of documents is stopword-band (its ratio
    * idf is ≈ 1, near-zero information) and is dropped from postings
    * entirely, the Lucene stop-filter behavior. Integer compare; at 100 TB
    * this is also what keeps the inverted index from being dominated by
    * stopword postings lists.
    */
  private def prunedDf(postings: DataFrame, stats: DataFrame,
                       maxDfPpm: Long): DataFrame =
    postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .filter(lit(1000000L) * col("df") <= lit(maxDfPpm) * col("n_docs"))
      .select(col("term"), col("df"))

  /** The BM25 term unit: whitespace tokens for `n` = 1, else
    * underscore-joined word `n`-grams — the standard decontamination unit
    * (overlap of CONSECUTIVE words, not bags of common words; on corpora
    * whose unigram vocabulary is stopword-band-dense, n ≥ 2 is what keeps
    * the df spectrum informative). Docs shorter than `n` tokens yield an
    * empty term list.
    */
  def ngramTerms(textCol: Column, n: Int): Column = {
    require(n >= 1, "ngram must be >= 1")
    if (n == 1) tokens(textCol)
    else {
      // native fused tokenize→window→join expression: the declarative
      // transform/slice/array_join chain ran its lambda interpreted per
      // element and was the measured dominant map cost of the BM25/HLL
      // tier; values are bit-identical ([[graft.functions.WordNgrams]]).
      // coalesce keeps the old form's empty-array-on-NULL-text contract
      import org.apache.spark.sql.graft.bridge
      coalesce(
        bridge.column(graft.functions.WordNgrams(
          bridge.expression(textCol), n)),
        array().cast("array<string>"))
    }
  }

  /** (id, term, tf, dl) postings with the document length denormalized in
    * (the Lucene norms-in-postings layout: the probe never needs a
    * doc-keyed join back to the corpus). `dl` counts TERM occurrences
    * (n-gram count for n > 1), the length the tf normalizer sees.
    */
  private def postingsOf(corpus: DataFrame, textCol: String,
                         idCol: String, ngram: Int): DataFrame = {
    // dl rides a sum(tf)-over-id window AFTER the tf aggregation (grouped
    // rows, not the corpus) rather than a map-side size(): a second
    // consumer of the term array would re-inline the n-gram build per row
    // (measured 2x the tokenize cost — the explode must stay the array's
    // single consumer, the bandedSigsNative rule)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
    corpus.select(col(idCol).as("id"),
        explode(ngramTerms(col(textCol), ngram)).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(w))
  }

  /** The one shared BM25 contribution expression — EXACT same shape as the
    * oracle SQL (see q172): every subexpression is an IEEE-exactly-rounded
    * op on identically-derived inputs, so both engines produce the same
    * bits, then floor to micro. `nDocs`/`totalLen` are the corpus stats —
    * a column (in-session broadcast row) or a literal (persisted probe
    * reads the one-row `_stats` table driver-side): same values, same bits.
    */
  private def bm25ContribMicro(nDocs: Column, totalLen: Column): Column = {
    val nD = nDocs.cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val avgdl = totalLen.cast("double") / nDocs.cast("double")
    val idfR = (nD - dfD + lit(0.5)) / (dfD + lit(0.5))
    val tfn = (tfD * lit(2.2)) /
      (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (dlD / avgdl)))
    floor((idfR * tfn) * lit(1000000.0) + lit(0.5)).cast("long")
  }

  /** BM25 top-`k` retrieval, in-session form: for every query document the
    * `k` best corpus documents by summed per-term BM25 (distinct query
    * terms, qtf collapsed to 1 — the dedup/decontamination convention
    * where a query IS a document and repeated terms carry no extra
    * intent). Output (query_id, doc_id, score_micro, n_terms_hit, rank),
    * rank by (score_micro desc, doc_id asc) — a total order.
    *
    * Scale shape: one (id, term) tf shuffle + one df count over the
    * corpus; the QUERY side broadcasts (this form's contract: a
    * benchmark/batch-sized query set — corpus-scale query sets go through
    * [[bm25TopKFromIndex]], where the postings are pre-bucketed by term
    * and the corpus never re-shuffles). Candidate rows are
    * query-proportional: Σ_q Σ_{t∈q} df'(t) after stopword-band pruning —
    * the df cap is what bounds the worst posting list. Per-query top-k is
    * a WindowGroupLimit heap, never a global sort.
    */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
               maxDfPpm: Long = 500000L, ngram: Int = 1,
               textCol: String = "text", idCol: String = "doc_id",
               queryTextCol: String = "text",
               queryIdCol: String = "doc_id",
               scope: graft.ops.CacheScope = graft.ops.CacheScope.default)
      : DataFrame = {
    // NOT registered, deliberately: the postings pipeline feeds both the
    // df pruning and the candidate join, but caching it was MEASURED
    // SLOWER in the full sweep (6.5 → 8.9 s at sf0.1 — columnar-cache
    // serialization of corpus-scale posting strings plus storage-memory
    // pressure outweigh the re-run, whose cost is map-side tokenize; the
    // df leg also prunes the dl window away, so the second pass is the
    // cheaper aggregate). The persisted-index form (bm25TopKFromIndex)
    // remains the real many-probe path.
    val post = postingsOf(corpus, textCol, idCol, ngram)
    val stats = corpus.agg(count(lit(1)).as("n_docs"),
      sum(size(ngramTerms(col(textCol), ngram))).cast("long").as("total_len"))
    val dfT = prunedDf(post, stats, maxDfPpm)
    val qterms = queries.select(col(queryIdCol).as("query_id"),
        explode(ngramTerms(col(queryTextCol), ngram)).as("term")).distinct()
    val cand = post
      .join(broadcast(qterms.join(dfT, Seq("term"))), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("id"),
        bm25ContribMicro(col("n_docs"), col("total_len")).as("c"))
    val scored = cand.groupBy(col("query_id"), col("id"))
      .agg(sum(col("c")).as("score_micro"),
        count(lit(1)).as("n_terms_hit"))
    RelationalOps.topKPerGroup(scored, Seq("query_id"),
        Seq(col("score_micro").desc, col("id").asc), k)
      .select(col("query_id"), col("id").as("doc_id"), col("score_micro"),
        col("n_terms_hit"), col("rn").cast("int").as("rank"))
  }

  /** The four tables a lexical index comprises (suffixes of tablePrefix). */
  val lexicalIndexTables: Seq[String] = Seq("postings", "df", "stats", "meta")

  /** Stamped into every lexical-index meta row and re-checked by
    * [[ensureLexicalIndex]] — bump on any change to tokenization, pruning
    * or the postings layout (same contract as the banded index's).
    */
  val lexicalIndexFormatVersion: Int = 1

  /** Persist the inverted index — the index-once / probe-many production
    * shape of [[bm25TopK]]: `_postings` (term, id, tf, dl) BUCKETED BY
    * term (stopword-band terms pruned at write — they'd dominate 100 TB
    * postings storage and score ≈ 0), `_df` (term, df — FULL, unpruned:
    * df is diagnostics + append bookkeeping, pruning membership is
    * recomputed from `_stats` at probe) bucketed by term with the same
    * bucket count, `_stats` the one (n_docs, total_len) row, `_meta` the
    * build parameters. Probes join postings ⋈ df on the shared bucketed
    * term key — no corpus-side exchange, ever.
    */
  def writeLexicalIndex(corpus: DataFrame, tablePrefix: String,
                        corpusTag: String = "",
                        textCol: String = "text", idCol: String = "doc_id",
                        maxDfPpm: Long = 500000L, ngram: Int = 1,
                        buckets: Int = 8): Unit = {
    import graft.sources.Bucketing
    val spark = corpus.sparkSession
    import spark.implicits._
    val post = postingsOf(corpus, textCol, idCol, ngram)
    val stats = corpus.agg(count(lit(1)).as("n_docs"),
      sum(size(ngramTerms(col(textCol), ngram))).cast("long").as("total_len"))
    val fullDf = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val keep = fullDf.crossJoin(broadcast(stats))
      .filter(lit(1000000L) * col("df") <= lit(maxDfPpm) * col("n_docs"))
      .select(col("term"))
    Bucketing.writeBucketed(post.join(keep, Seq("term")),
      s"${tablePrefix}_postings", Seq("term"), buckets)
    Bucketing.writeBucketed(fullDf, s"${tablePrefix}_df", Seq("term"), buckets)
    Bucketing.saveTable(stats, s"${tablePrefix}_stats")
    Bucketing.saveTable(
      Seq((maxDfPpm, ngram, buckets, corpusTag, lexicalIndexFormatVersion))
        .toDF("max_df_ppm", "ngram", "buckets", "corpus_tag", "fmt"),
      s"${tablePrefix}_meta")
  }

  /** Build the lexical index only if the persisted one is stale — the
    * [[graft.ops.DedupOps.ensureBandedIndex]] contract: tables exist and
    * the meta row matches tag + every build parameter, else rebuild.
    */
  def ensureLexicalIndex(corpus: DataFrame, tablePrefix: String,
                         corpusTag: String,
                         textCol: String = "text", idCol: String = "doc_id",
                         maxDfPpm: Long = 500000L, ngram: Int = 1,
                         buckets: Int = 8): Unit = {
    val spark = corpus.sparkSession
    val upToDate = try {
      lexicalIndexTables
        .forall(s => spark.catalog.tableExists(s"${tablePrefix}_$s")) && {
        val m = spark.table(s"${tablePrefix}_meta").head()
        m.getAs[Int]("fmt") == lexicalIndexFormatVersion &&
          m.getAs[String]("corpus_tag") == corpusTag &&
          m.getAs[Long]("max_df_ppm") == maxDfPpm &&
          m.getAs[Int]("ngram") == ngram &&
          m.getAs[Int]("buckets") == buckets
      }
    } catch { case _: Exception => false }
    if (!upToDate)
      writeLexicalIndex(corpus, tablePrefix, corpusTag, textCol, idCol,
        maxDfPpm, ngram, buckets)
  }

  /** BM25 top-`k` against the PERSISTED index — row-identical to
    * [[bm25TopK]] over the same corpus/parameters (OpsSpec proves parity).
    *
    * Scale shape: the query batch's distinct terms broadcast against the
    * bucketed `_df` scan (no exchange), the hit terms broadcast against
    * the bucketed `_postings` scan (no exchange) — the corpus-side index
    * is NEVER re-shuffled; the only shuffles are candidate-proportional
    * (the (query, doc) score agg and the per-query top-k heap).
    */
  def bm25TopKFromIndex(queries: DataFrame, tablePrefix: String, k: Int = 5,
                        queryTextCol: String = "text",
                        queryIdCol: String = "doc_id"): DataFrame = {
    val spark = queries.sparkSession
    val meta = spark.table(s"${tablePrefix}_meta").head()
    val maxDfPpm = meta.getAs[Long]("max_df_ppm")
    val ngram = meta.getAs[Int]("ngram")
    // the one-row stats table is model-sized: read driver-side and embed
    // as literals (no scan/broadcast of a companion table in probe plans)
    val st = spark.table(s"${tablePrefix}_stats").head()
    val nDocs = st.getAs[Long]("n_docs")
    val totalLen = st.getAs[Long]("total_len")
    val post = spark.table(s"${tablePrefix}_postings")
    val dfT = spark.table(s"${tablePrefix}_df")
      .filter(lit(1000000L) * col("df") <= lit(maxDfPpm) * lit(nDocs))
      .select(col("term"), col("df"))
    val qterms = queries.select(col(queryIdCol).as("query_id"),
        explode(ngramTerms(col(queryTextCol), ngram)).as("term")).distinct()
    val cand = post
      .join(broadcast(qterms.join(dfT, Seq("term"))), Seq("term"))
      .select(col("query_id"), col("id"),
        bm25ContribMicro(lit(nDocs), lit(totalLen)).as("c"))
    val scored = cand.groupBy(col("query_id"), col("id"))
      .agg(sum(col("c")).as("score_micro"),
        count(lit(1)).as("n_terms_hit"))
    RelationalOps.topKPerGroup(scored, Seq("query_id"),
        Seq(col("score_micro").desc, col("id").asc), k)
      .select(col("query_id"), col("id").as("doc_id"), col("score_micro"),
        col("n_terms_hit"), col("rn").cast("int").as("rank"))
  }

  /** Lexical DECONTAMINATION report off the persisted index: per query
    * (benchmark) document its single best BM25 match and a flag at
    * `thresholdMicro`. Queries with NO candidate (no term shared with any
    * corpus doc after stopword-band pruning) surface as NULL best rows
    * with `contaminated = false` — the NULL-coverage contract: a short
    * candidate list is a visible row, never a silent drop.
    */
  def lexicalContaminationReport(queries: DataFrame, tablePrefix: String,
                                 thresholdMicro: Long,
                                 queryTextCol: String = "text",
                                 queryIdCol: String = "doc_id"): DataFrame = {
    val top1 = bm25TopKFromIndex(queries, tablePrefix, k = 1,
        queryTextCol, queryIdCol)
      .select(col("query_id"), col("doc_id").as("best_doc"),
        col("score_micro").as("best_score_micro"),
        col("n_terms_hit"))
    queries.select(col(queryIdCol).as("query_id"))
      .join(top1, Seq("query_id"), "left")
      .select(col("query_id"), col("best_doc"), col("best_score_micro"),
        coalesce(col("n_terms_hit"), lit(0L)).as("n_terms_hit"),
        coalesce(col("best_score_micro") >= lit(thresholdMicro), lit(false))
          .as("contaminated"))
  }
}
