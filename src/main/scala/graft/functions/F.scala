package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

/** Column-API entry points for graft's custom Catalyst expressions. */
object F {
  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  /** MinHash signature (array<long> of `k` minima) from element hashes. */
  def minhashSig(elementHashes: Column, k: Int): Column = col(MinHashSig(ex(elementHashes), k))

  /** 64-bit simhash from element hashes. */
  def simhash64(elementHashes: Column): Column = col(SimHash64(ex(elementHashes)))

  /** Cosine similarity (double) of two array<float> columns. */
  def cosine(a: Column, b: Column): Column = col(CosineSim(ex(a), ex(b)))

  /** Hyperplane-LSH sign bits (long) of an array<float> vector. */
  def rpBits(v: Column, numBits: Int, seed: Long): Column =
    col(RandomProjectionBits(ex(v), numBits, seed))

  /** Rolling-hash fingerprint (long) of a string column. */
  def fingerprint(text: Column, window: Int = 16): Column =
    col(RabinFingerprint(ex(text), window))

  /** Cross-engine-portable window fingerprint (long) — reproducible in
    * DuckDB SQL for oracle checks (the wrapping-multiply variant above
    * is not).
    */
  def portableFingerprint(text: Column, window: Int = 16): Column =
    col(PortableFingerprint(ex(text), window))

  /** Unicode NFC canonical composition of a string column. */
  def nfc(text: Column): Column = col(NfcNormalize(ex(text)))

  /** Is row position `pos` set in deletion-vector bitmap `bm`? */
  def bitmapContains(bm: Column, pos: Column): Column =
    col(BitmapContains(ex(bm), ex(pos)))

  /** Sorted set positions (array<long>) of a deletion-vector bitmap. */
  def bitmapPositions(bm: Column): Column = col(BitmapPositions(ex(bm)))

  /** Number of set positions of a deletion-vector bitmap. */
  def bitmapCardinality(bm: Column): Column = col(BitmapCardinality(ex(bm)))

  /** Greedy longest-match token count under the shipped subword vocab. */
  def subwordTokens(text: Column): Column = col(SubwordTokenCount(ex(text)))

  /** Merge-rule BPE token count under the shipped trained merges. */
  def bpeTokens(text: Column): Column = col(BpeTokenCount(ex(text)))

  /** Merge-rule BPE token IDS (flat long array) under the same merges. */
  def bpeTokenIds(text: Column): Column = col(BpeTokenIds(ex(text)))

  /** Markup-stripped, entity-decoded, line-normalized text of HTML. */
  def htmlText(html: Column): Column = col(HtmlTextExtract(ex(html)))

  /** Drop lines with fewer than `minWords` space-separated words. */
  def keepLines(text: Column, minWords: Int): Column =
    col(KeepLinesMinWords(ex(text), minWords))

  /** Sorted distinct rolling char-n-gram hashes of a string column. */
  def charShingles(text: Column, window: Int): Column =
    col(CharWindowHashes(ex(text), window))

  /** Sorted distinct n-element shingle hashes over an array<long> column. */
  def wordShingles(elementHashes: Column, window: Int): Column =
    col(WordWindowHashes(ex(elementHashes), window))

  /** Intersection size of two sorted distinct array<long> columns. */
  def sortedOverlap(a: Column, b: Column): Column =
    col(SortedOverlapCount(ex(a), ex(b)))

  /** Cross-engine-portable per-word polynomial hashes (array<long>) of an
    * array<string> column — reproducible in DuckDB SQL for oracle checks.
    */
  def polyWordHashes(words: Column): Column = col(PolyWordHashes(ex(words)))

  /** Hashed-feature linear classifier score (integer, portable). */
  def linearScore(words: Column): Column = col(HashedLinearScore(ex(words)))

  /** Bigram-LM log-prob sum over adjacent tokens (x21 perplexity filter). */
  def bigramLogProb(words: Column): Column = col(HashedBigramLogProb(ex(words)))

  /** TRAINED-table bigram-LM log-prob sum (x23; see [[BigramLm]]). */
  def bigramLogProbLm(words: Column): Column = col(TrainedBigramLogProb(ex(words)))

  /** TARGET-domain trained bigram-LM log-prob sum (x24 DSIR numerator). */
  def bigramLogProbTarget(words: Column): Column = col(TargetBigramLogProb(ex(words)))

  /** Hilbert-curve index of an array<long> of `bits`-bit coordinates. */
  def hilbertIndex(coords: Column, bits: Int): Column =
    col(HilbertIndex(ex(coords), bits))

  /** The `n` nearest IVF centroid cell ids (by cosine) for a vector;
    * `centroids` is the trained, L2-normalized index artifact (a plan
    * constant — not SQL-registered because it is not a literal type).
    */
  def nearestCells(v: Column, centroids: Array[Array[Float]], n: Int): Column =
    col(NearestCells(ex(v), centroids, n))

  /** Product-quantization code (array<int>, one entry per subspace). */
  def pqEncode(v: Column, codebooks: Array[Array[Array[Float]]]): Column =
    col(PqEncode(ex(v), codebooks))

  /** Per-query PQ ADC lookup table (flattened m×ks array<float>). */
  def pqLut(q: Column, codebooks: Array[Array[Array[Float]]]): Column =
    col(PqLut(ex(q), codebooks))

  /** PQ asymmetric-distance score of a code against a query LUT. */
  def pqAdc(code: Column, lut: Column, ks: Int): Column =
    col(PqAdcScore(ex(code), ex(lut), ks))

  /** OPQ rotation apply y = R·x (row-major R), codegen'd. */
  def rotate(v: Column, rot: Array[Array[Float]]): Column =
    col(RotateVec(ex(v), rot))

  /** SQ8 code: one signed byte per dimension (binary, 4× compression). */
  def sqEncode(v: Column, mins: Array[Float], spans: Array[Float]): Column =
    col(SqEncode(ex(v), mins, spans))

  /** SQ asymmetric score: dot(float query, decoded byte code). */
  def sqScore(q: Column, code: Column, mins: Array[Float],
      spans: Array[Float]): Column =
    col(SqScore(ex(q), ex(code), mins, spans))

  /** Bounded collect_list of a long column: NULL for buckets with fewer
    * than 2 or more than `cap` elements, with O(cap) aggregation-buffer
    * memory even on a 10^8-member bucket (see [[CappedCollectLongs]]).
    */
  def cappedCollect(id: Column, cap: Int): Column =
    col(CappedCollectLongs(ex(id), cap).toAggregateExpression())

  /** Bounded-state per-group top-k of (sim, id) under (sim desc, id asc):
    * array<struct<sim,id>> sorted best-first, O(k) aggregation state per
    * group — the no-sort, no-spill replacement for the rank-window ANN
    * tail (see [[TopKSimPairs]]).
    */
  def topKPairs(sim: Column, id: Column, k: Int): Column =
    col(TopKSimPairs(ex(sim), ex(id), k).toAggregateExpression())

  /** Spark-canonical file path rendering (codegen'd; see [[CanonicalPath]]). */
  def canonPath(p: Column): Column = col(CanonicalPath(ex(p)))

  /** Is the URL inside the declared canonicalization envelope? (x22) */
  def urlOk(url: Column): Column = col(UrlInEnvelope(ex(url)))

  /** Canonical form of an http/https URL (x22 crawl normalization). */
  def canonUrl(url: Column): Column = col(UrlCanonicalize(ex(url)))

  /** Registered domain (mini-PSL rule) of an http/https URL. */
  def regDomain(url: Column): Column = col(UrlRegisteredDomain(ex(url)))

  /** A long constant that generated code reads from the plan's
    * references instead of inlining ([[BoundLong]]): plans differing only
    * in it share one compiled class.
    */
  def boundLong(v: Long): Column = col(BoundLong(v))
}

/** SQL-surface registration: `spark.sql("SELECT graft_cosine(a, b) ...")`.
  * Usable either at build time (`.withExtensions(new GraftExtensions)`) or
  * post hoc on a live session via [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  private[functions] val cosineDesc =
    (FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - cosine similarity of two float vectors"),
      (children: Seq[Expression]) => CosineSim(children(0), children(1)))

  private[functions] val simhashDesc =
    (FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "graft_simhash64(hashes) - 64-bit simhash of an array of hashes"),
      (children: Seq[Expression]) => SimHash64(children.head))

  private[functions] val fingerprintDesc =
    (FunctionIdentifier("graft_fingerprint"),
      info("graft_fingerprint", "graft_fingerprint(text) - rolling-hash fingerprint"),
      (children: Seq[Expression]) => RabinFingerprint(children.head, 16))

  private def litInt(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"literal int expected, got $other")
  }
  private def litLong(e: Expression): Long = e.eval(null) match {
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalArgumentException(s"literal long expected, got $other")
  }

  private[functions] val charShinglesDesc =
    (FunctionIdentifier("graft_char_shingles"),
      info("graft_char_shingles", "graft_char_shingles(text, w) - sorted distinct rolling char-w-gram hashes"),
      (children: Seq[Expression]) => CharWindowHashes(children(0), litInt(children(1))))

  private[functions] val wordShinglesDesc =
    (FunctionIdentifier("graft_word_shingles"),
      info("graft_word_shingles", "graft_word_shingles(hashes, w) - sorted distinct w-element shingle hashes"),
      (children: Seq[Expression]) => WordWindowHashes(children(0), litInt(children(1))))

  private[functions] val sortedOverlapDesc =
    (FunctionIdentifier("graft_sorted_overlap"),
      info("graft_sorted_overlap", "graft_sorted_overlap(a, b) - |a ∩ b| of two sorted distinct long arrays"),
      (children: Seq[Expression]) => SortedOverlapCount(children(0), children(1)))

  private[functions] val minhashDesc =
    (FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig", "graft_minhash_sig(hashes, k) - k-element minhash signature"),
      (children: Seq[Expression]) => MinHashSig(children(0), litInt(children(1))))

  private[functions] val rpBitsDesc =
    (FunctionIdentifier("graft_rp_bits"),
      info("graft_rp_bits", "graft_rp_bits(vec, bits, seed) - hyperplane-LSH sign bits"),
      (children: Seq[Expression]) =>
        RandomProjectionBits(children(0), litInt(children(1)), litLong(children(2))))

  private[functions] val nfcDesc =
    (FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(text) - Unicode NFC canonical composition"),
      (children: Seq[Expression]) => NfcNormalize(children.head))

  private[functions] val subwordTokensDesc =
    (FunctionIdentifier("graft_subword_tokens"),
      info("graft_subword_tokens", "graft_subword_tokens(text) - greedy longest-match subword token count"),
      (children: Seq[Expression]) => SubwordTokenCount(children.head))

  private[functions] val bpeTokensDesc =
    (FunctionIdentifier("graft_bpe_tokens"),
      info("graft_bpe_tokens", "graft_bpe_tokens(text) - merge-rule BPE token count"),
      (children: Seq[Expression]) => BpeTokenCount(children.head))

  private[functions] val bpeIdsDesc =
    (FunctionIdentifier("graft_bpe_ids"),
      info("graft_bpe_ids", "graft_bpe_ids(text) - merge-rule BPE token ids (flat long array)"),
      (children: Seq[Expression]) => BpeTokenIds(children.head))

  private[functions] val htmlTextDesc =
    (FunctionIdentifier("graft_html_text"),
      info("graft_html_text", "graft_html_text(html) - markup-stripped, entity-decoded, line-normalized text"),
      (children: Seq[Expression]) => HtmlTextExtract(children.head))

  private[functions] val keepLinesDesc =
    (FunctionIdentifier("graft_keep_lines"),
      info("graft_keep_lines", "graft_keep_lines(text, minWords) - drop lines with fewer words"),
      (children: Seq[Expression]) => KeepLinesMinWords(children(0), litInt(children(1))))

  private[functions] val linearScoreDesc =
    (FunctionIdentifier("graft_linear_score"),
      info("graft_linear_score", "graft_linear_score(words) - hashed-feature linear classifier score"),
      (children: Seq[Expression]) => HashedLinearScore(children.head))

  private[functions] val bigramLogProbDesc =
    (FunctionIdentifier("graft_bigram_logprob"),
      info("graft_bigram_logprob", "graft_bigram_logprob(words) - bigram-LM log-prob sum over adjacent words"),
      (children: Seq[Expression]) => HashedBigramLogProb(children.head))

  private[functions] val bigramLogProbLmDesc =
    (FunctionIdentifier("graft_bigram_logprob_lm"),
      info("graft_bigram_logprob_lm", "graft_bigram_logprob_lm(words) - TRAINED-table bigram-LM log-prob sum"),
      (children: Seq[Expression]) => TrainedBigramLogProb(children.head))

  private[functions] val bigramLogProbTargetDesc =
    (FunctionIdentifier("graft_bigram_logprob_target"),
      info("graft_bigram_logprob_target", "graft_bigram_logprob_target(words) - TARGET-domain trained bigram-LM log-prob sum"),
      (children: Seq[Expression]) => TargetBigramLogProb(children.head))

  private[functions] val urlOkDesc =
    (FunctionIdentifier("graft_url_ok"),
      info("graft_url_ok", "graft_url_ok(url) - is the URL inside the canonicalization envelope"),
      (children: Seq[Expression]) => UrlInEnvelope(children.head))

  private[functions] val canonUrlDesc =
    (FunctionIdentifier("graft_canon_url"),
      info("graft_canon_url", "graft_canon_url(url) - canonical form of an http/https URL"),
      (children: Seq[Expression]) => UrlCanonicalize(children.head))

  private[functions] val regDomainDesc =
    (FunctionIdentifier("graft_reg_domain"),
      info("graft_reg_domain", "graft_reg_domain(url) - registered domain of an http/https URL"),
      (children: Seq[Expression]) => UrlRegisteredDomain(children.head))

  private[functions] def all = Seq(cosineDesc, simhashDesc, fingerprintDesc,
    charShinglesDesc, wordShinglesDesc, sortedOverlapDesc, minhashDesc,
    rpBitsDesc, nfcDesc, subwordTokensDesc, bpeTokensDesc, bpeIdsDesc, htmlTextDesc,
    keepLinesDesc, linearScoreDesc, bigramLogProbDesc, bigramLogProbLmDesc,
    bigramLogProbTargetDesc,
    urlOkDesc, canonUrlDesc, regDomainDesc)

  /** Register graft SQL functions on an already-built session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
