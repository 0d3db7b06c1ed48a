package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot loops of the dedup / similarity
  * operators. Spark's higher-order functions (`transform`, `aggregate`,
  * `zip_with`) evaluate interpreted — one lambda dispatch plus array
  * allocation per element — which dominates scan cost when an operator
  * needs dozens of passes per row (64-permutation minhash, 64-bit simhash
  * voting, embedding dot products). Each expression here replaces an
  * O(numHashes·|arr|) interpreted HOF tree with one tight JVM loop per row
  * (~10-40× on the minhash/simhash stages at sf0.1).
  *
  * All expressions implement `doGenCode` (generating a single static call
  * into [[ExprKernels]]) so the stage they sit in keeps whole-stage
  * codegen — a CodegenFallback expression would de-optimize every fused
  * operator around it back to the Volcano path.
  */
object expressions {

  private[plans] def mix64(z0: Long): Long = ExprKernels.mix64(z0)

  // Column-API entry points -------------------------------------------
  // (Spark 4 classic: Column ⟷ Expression via the sql-package bridge)
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Minhash signature (array<bigint>, length numHashes) of an
    * `array<bigint>` of element hashes.
    */
  def minhash_sig(hashes: Column, numHashes: Int): Column =
    column(MinHashSig(expression(hashes), numHashes))

  /** Distinct word-w-shingle hashes of a text column, in one pass (see
    * [[ShingleHashes]]).
    */
  def shingle_hashes(text: Column, w: Int): Column =
    column(ShingleHashes(expression(text), w))

  /** STRICT distinct word-n-gram hashes (no short-document fallback —
    * under `n` tokens yields an empty array; see [[WordNgramHashes]]).
    */
  def word_ngram_hashes(text: Column, n: Int): Column =
    column(WordNgramHashes(expression(text), n))

  /** Distinct character-n-gram hashes of a text column, in one pass (see
    * [[CharNgramHashes]]).
    */
  def char_ngram_hashes(text: Column, n: Int): Column =
    column(CharNgramHashes(expression(text), n))

  /** POSITIONAL raw-text k-gram hashes — element i hashes chars
    * [i, i+k) (see [[KgramHashes]]; the exact-substring-dedup primitive).
    */
  def kgram_hashes(text: Column, k: Int): Column =
    column(KgramHashes(expression(text), k))

  /** POSITIONAL k-gram hashes of an `array<int>` token sequence —
    * element i hashes ids [i, i+k) (see [[KgramHashesInts]]).
    */
  def kgram_hashes_ints(ids: Column, k: Int): Column =
    column(KgramHashesInts(expression(ids), k))

  /** Ascending k-window start positions → maximal disjoint
    * `array<struct<start,end>>` spans, >= minSpan chars (see
    * [[CoalesceSpans]]).
    */
  def coalesce_spans(positions: Column, k: Int, minSpan: Int = 0): Column =
    column(CoalesceSpans(expression(positions), k, minSpan))

  /** Blocklist hit count: single-word entries via one tokenization
    * pass + set lookup, multi-word entries via boundary-checked
    * substring scan (see [[BlocklistHits]]).
    */
  def blocklist_hits(text: Column, words: Seq[String]): Column =
    column(BlocklistHits(expression(text), words))

  /** 64-bit simhash of an `array<bigint>` of token hashes. */
  def simhash64(hashes: Column): Column = column(SimHash64(expression(hashes)))

  /** NON-distinct lowercase letter-run token hashes of a text column, in
    * one pass (simhash features — every occurrence votes).
    */
  def token_hashes(text: Column): Column = column(TokenHashes(expression(text)))

  /** Dot product of two float/double array columns, in double. */
  def dot_product(a: Column, b: Column): Column =
    column(VecDot(expression(a), expression(b), DotMode.Dot))

  /** All LSH table buckets of a vector in one fused pass (see
    * [[LshBuckets]]). `planes` is [table][bit][dim] flattened.
    */
  def lsh_buckets(vec: Column, planes: Seq[Double], tables: Int, nbits: Int,
                  dim: Int): Column =
    column(LshBuckets(expression(vec), planes.toVector, tables, nbits, dim))

  /** Set-Jaccard of two `array<bigint>` hash-set columns in one pass (see
    * [[HashJaccard]]).
    */
  def hash_jaccard(a: Column, b: Column): Column =
    column(HashJaccard(expression(a), expression(b)))

  /** Set containment `|A∩B| / min(|A|,|B|)` of two `array<bigint>` hash
    * sets in one pass (see [[HashContainment]]).
    */
  def hash_containment(a: Column, b: Column): Column =
    column(HashContainment(expression(a), expression(b)))

  /** Cosine similarity of two float/double array columns, in double. */
  def cosine_sim(a: Column, b: Column): Column =
    column(VecDot(expression(a), expression(b), DotMode.Cosine))

  /** Sign-bit binary code of a float/double vector (see [[SignBits]]). */
  def sign_bits(vec: Column): Column =
    column(SignBits(expression(vec)))

  /** Whitespace/case-normalized md5 fingerprint of a text column, fused
    * into one pass (see [[NormalizedMd5]]).
    */
  /** Deflate compression ratio of the text's UTF-8 bytes (see
    * [[DeflateRatio]]) — both-tail quality cut: repetition AND noise.
    */
  def deflate_ratio(text: Column): Column =
    column(DeflateRatio(expression(text)))

  /** ftfy-style mojibake repair (see [[FixMojibake]]). */
  def fix_mojibake(text: Column): Column =
    column(FixMojibake(expression(text)))

  def normalized_md5(text: Column): Column =
    column(NormalizedMd5(expression(text)))

  /** Hashed char-n-gram bucket ids for each order in `ns` (see
    * [[Md5BucketNgrams]]) — the language-id featurization at kernel
    * speed, bit-identical to the portable md5/conv/pmod column form.
    */
  def md5_bucket_ngrams(text: Column, ns: Seq[Int], buckets: Int,
                        seed: String): Column =
    column(Md5BucketNgrams(expression(text), ns, buckets, seed))

  /** NFC + whitespace/control cleanup of a text column in one pass (see
    * [[UnicodeClean]]).
    */
  def unicode_clean(text: Column): Column =
    column(UnicodeClean(expression(text)))

  /** Luhn-validated payment-card redaction in one pass (see
    * [[LuhnRedact]]).
    */
  def luhn_redact(text: Column): Column =
    column(LuhnRedact(expression(text)))

  /** HTML main-text extraction in one pass (see [[HtmlExtract]]). */
  def html_extract(html: Column): Column =
    column(HtmlExtract(expression(html)))

  /** Outlink extraction: `array<struct<href, anchor>>` per page (see
    * [[HtmlLinks]]) — the crawl-frontier feed.
    */
  def html_links(html: Column): Column =
    column(HtmlLinks(expression(html)))

  /** Sitemap parsing: `array<struct<loc, lastmod, kind>>` per document
    * (see [[SitemapEntries]]) — the crawl frontier's seed source.
    */
  def sitemap_entries(xml: Column): Column =
    column(SitemapEntries(expression(xml)))

  /** URL canonicalization for URL-level dedup, in one pass (see
    * [[UrlCanonicalize]]); the default drop set strips the common
    * tracking params (utm_*, gclid, fbclid, ...).
    */
  def canonicalize_url(url: Column,
                       dropNames: Seq[String] = UrlCanonicalize.DefaultDropNames,
                       dropPrefixes: Seq[String] = UrlCanonicalize.DefaultDropPrefixes): Column =
    column(UrlCanonicalize(expression(url), dropNames, dropPrefixes))

  /** Registrable ("eTLD+1") domain of a URL or bare host — the
    * per-domain crawl-curation grouping key (see [[RegistrableDomain]];
    * null for malformed hosts and bare public suffixes).
    */
  def registrable_domain(url: Column,
                         rules: Seq[String] = RegistrableDomain.DefaultRules): Column =
    column(RegistrableDomain(expression(url), rules))

  /** RFC 9309 robots.txt gate: may `agent` fetch `path` under this
    * site's robots body? (see [[RobotsAllowed]]).
    */
  def robots_allowed(robotsTxt: Column, path: Column,
                     agent: String = "*"): Column =
    column(RobotsAllowed(expression(robotsTxt), expression(path), agent))

  /** `Sitemap:` directives of a robots.txt body, in document order (see
    * [[RobotsSitemaps]]) — the robots → sitemap discovery hop.
    */
  def robots_sitemaps(robotsTxt: Column): Column =
    column(RobotsSitemaps(expression(robotsTxt)))

  /** Effective `Crawl-delay` seconds for `agent`, null when undeclared
    * (see [[RobotsCrawlDelay]]) — feeds the frontier's per-domain
    * politeness spacing.
    */
  def robots_crawl_delay(robotsTxt: Column, agent: String = "*"): Column =
    column(RobotsCrawlDelay(expression(robotsTxt), agent))

  /** Z-order value of an `array<double>` column (one element per Z-order
    * dimension); `bounds` holds `(1<<bits)-1` ascending quantile
    * boundaries per column, column-major (see [[ZValue]]).
    */
  def z_value(vals: Column, bounds: Seq[Double], nCols: Int, bits: Int): Column =
    column(ZValue(expression(vals), ZBounds(bounds.toVector), nCols, bits))

  /** Hilbert-curve clustering value (same bucketing as [[z_value]], the
    * Hilbert index instead of bit interleaving — see
    * [[graft.plans.ExprKernels.hilbertValue]]).
    */
  def hilbert_value(vals: Column, bounds: Seq[Double], nCols: Int,
                    bits: Int): Column =
    column(HilbertValue(expression(vals), ZBounds(bounds.toVector), nCols, bits))

  private[plans] def arrayOfLongCheck(e: Expression, name: String) =
    e.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$name expects array<bigint>, got ${other.sql}")
    }

  private[plans] def arrayOfIntCheck(e: Expression, name: String) =
    e.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$name expects array<int>, got ${other.sql}")
    }

  private[graft] def stringCheck(e: Expression, name: String) =
    e.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$name expects string, got ${other.sql}")
    }

  /** Bloom-filter membership probe of a `bigint` or `string` key against
    * a serialized [[org.apache.spark.util.sketch.BloomFilter]] — the
    * executor-side half of [[graft.text.BloomDedup]]. False positives at
    * the filter's fpp; never false negatives. NULL key → NULL.
    */
  def bloom_might_contain(key: Column, bloom: BloomRef): Column =
    column(BloomMightContain(expression(key), bloom))

  /** Sharded-bank membership probe (see [[BloomBankMightContain]]). */
  def bloom_bank_might_contain(key: Column, bank: BloomBankRef): Column =
    column(BloomBankMightContain(expression(key), bank))
}

/** One-permutation minhash (Li, Owen, Zhang 2012): the hash space is
  * split into `numHashes` buckets by the top bits of each element hash and
  * the minimum is kept per bucket — ONE O(|arr|) pass instead of the
  * classic numHashes × |arr| permutations, with rotation densification
  * (empty buckets borrow the next non-empty bucket's value, mixed with the
  * distance so borrowed entries stay distinguishable) for short inputs.
  * Bucket-match probability ≈ Jaccard, as with classic minhash, so the
  * banded-LSH S-curve downstream is unchanged. NULL input → NULL; empty
  * array → NULL (no shingles ⇒ no signature, never collides).
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // empty input array → null output, even from a non-null child
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    expressions.arrayOfLongCheck(child, "minhash_sig")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.minhashSig(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.plans.ExprKernels.minhashSig($c, $numHashes);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** Text → distinct hashes of its lowercase word w-shingles, one pass.
  *
  * Replaces the interpreted HOF chain `split → filter → transform(slice +
  * concat_ws) → array_distinct → transform(xxhash64)`: tokens are scanned
  * directly from the string (runs of Unicode letters, lowercased), each
  * token is hashed incrementally, and a shingle hash mixes the `w`
  * consecutive token hashes — no intermediate token/shingle strings are
  * materialized. Documents shorter than `w` tokens produce one hash over
  * all their tokens (so they can still bucket). NULL text → NULL.
  *
  * Collision note: downstream Jaccard verification compares these 64-bit
  * hash sets rather than shingle strings; collisions (~2⁻⁶⁴ per pair) are
  * negligible against LSH's own approximation.
  */
case class ShingleHashes(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "shingle_hashes")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.shingleHashes(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.shingleHashes($c, $w);")

  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

/** Text → STRICT distinct word n-gram hashes: [[ShingleHashes]] minus
  * the short-document fallback — fewer than `n` tokens yields an EMPTY
  * array (exact-overlap decontamination semantics: a short document
  * cannot carry a full n-gram). Comparing 64-bit gram hashes instead of
  * gram strings admits ~2⁻⁶⁴ false contamination per candidate pair —
  * the same stance as the bloom-filter-based production pipelines this
  * mirrors, where false positives only ever drop an extra document.
  */
case class WordNgramHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "word_ngram_hashes")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.wordNgramHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.wordNgramHashes($c, $n);")

  override protected def withNewChildInternal(c: Expression): WordNgramHashes =
    copy(child = c)
}

/** Text → NON-distinct hashes of its lowercase letter-run tokens, one
  * pass — simhash's feature extractor (each token occurrence votes on the
  * fingerprint bits, so duplicates are kept, unlike [[ShingleHashes]]).
  */
case class TokenHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "token_hashes")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.tokenHashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.tokenHashes($c);")

  override protected def withNewChildInternal(c: Expression): TokenHashes =
    copy(child = c)
}

/** Text → distinct hashes of its character n-grams, one pass. The text is
  * normalized on the fly (lowercased; runs of non-letters collapse to a
  * single space) and each n-char window is hashed with a rolling recompute
  * — no substring materialization. Texts shorter than n yield one hash of
  * the whole normalized text. The finer-grained cousin of
  * [[ShingleHashes]]: robust to word-boundary edits and typos, the
  * standard n-gram-Jaccard dedup primitive.
  */
/** Text → md5-bucket ids of every char n-gram for each order in `ns` —
  * the fastText language-id featurization, bit-identical to the
  * portable column form (see [[ExprKernels.md5BucketNgrams]] for the
  * equivalences) at kernel speed. Seed rides as UTF-8 bytes; output is
  * nonnegative `% buckets`, so an external engine replays it with the
  * documented md5/conv/pmod SQL.
  */
case class Md5BucketNgrams(child: Expression, ns: Seq[Int], buckets: Int,
                           seed: String)
    extends UnaryExpression {
  require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 8),
    s"need 1 <= n <= 8 char-gram orders, got $ns")
  require(buckets >= 2, s"need >= 2 buckets, got $buckets")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "md5_bucket_ngrams")

  @transient private lazy val nsArr: Array[Int] = ns.toArray
  @transient private lazy val seedBytes: Array[Byte] =
    seed.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def nullSafeEval(input: Any): Any =
    ExprKernels.md5BucketNgrams(input.asInstanceOf[UTF8String], nsArr,
      buckets.toLong, seedBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nsRef = ctx.addReferenceObj("nsArr", nsArr, "int[]")
    val seedRef = ctx.addReferenceObj("seedBytes", seedBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.md5BucketNgrams(" +
        s"$c, $nsRef, ${buckets}L, $seedRef);")
  }

  override protected def withNewChildInternal(c: Expression): Md5BucketNgrams =
    copy(child = c)
}

case class CharNgramHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 2)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "char_ngram_hashes")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.charNgramHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.charNgramHashes($c, $n);")

  override protected def withNewChildInternal(c: Expression): CharNgramHashes =
    copy(child = c)
}

/** Text → positional hashes of every raw k-char window: element i is a
  * 64-bit hash of chars [i, i+k), rolling-updated in O(1) per position.
  * No normalization, no dedup — `posexplode` of the result gives exact
  * (offset, window-hash) pairs, the primitive behind cross-document
  * exact-substring dedup ([[graft.text.SubstrDedup]]). Texts shorter
  * than k yield an empty array.
  */
case class KgramHashes(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 2, s"k-gram width must be >= 2, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "kgram_hashes")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.kgramHashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.kgramHashes($c, $k);")

  override protected def withNewChildInternal(c: Expression): KgramHashes =
    copy(child = c)
}

/** Token-id sequence → positional hashes of every k-id window, rolling
  * O(1) per position — [[KgramHashes]] at token granularity (the unit
  * the ExactSubstr paper dedups). Sequences shorter than k yield an
  * empty array.
  */
case class KgramHashesInts(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 2, s"k-gram width must be >= 2, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    expressions.arrayOfIntCheck(child, "kgram_hashes_ints")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.kgramHashesInts(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.kgramHashesInts($c, $k);")

  override protected def withNewChildInternal(c: Expression): KgramHashesInts =
    copy(child = c)
}

/** Ascending k-window start positions → maximal disjoint (start, end)
  * spans: starts <= k apart merge (their windows overlap or touch), a
  * gap > k closes the span, spans shorter than minSpan are dropped.
  * The per-document reduce step of exact-substring dedup
  * ([[graft.text.SubstrDedup]]) — one kernel pass replaces two
  * window-function passes plus two aggregations (3 exchanges → 1).
  */
case class CoalesceSpans(child: Expression, k: Int, minSpan: Int)
    extends UnaryExpression {
  require(k >= 2, s"k-gram width must be >= 2, got $k")
  require(minSpan >= 0, s"minSpan must be >= 0, got $minSpan")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false))), containsNull = false)
  override def checkInputDataTypes() =
    expressions.arrayOfIntCheck(child, "coalesce_spans")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.coalesceSpans(input.asInstanceOf[ArrayData], k, minSpan)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.coalesceSpans($c, $k, $minSpan);")

  override protected def withNewChildInternal(c: Expression): CoalesceSpans =
    copy(child = c)
}

/** Case-insensitive blocklist hit count (C4's badwords page rule,
  * Raffel et al. 2020 §2.2: a page containing ANY listed word is
  * dropped — the count makes the rule auditable, keep = hits == 0).
  * Entries are word sequences; single words are counted with one
  * `[a-z0-9_]`-tokenization pass and a set lookup per token, phrases
  * with a boundary-checked non-overlapping substring scan — `\b…\b`
  * regex semantics without an O(|list|) regex alternation per row.
  * Entry lists ride codegen as reference objects, pre-lowercased and
  * pre-split once at plan time.
  */
case class BlocklistHits(child: Expression, words: Seq[String])
    extends UnaryExpression {
  require(words.nonEmpty, "blocklist_hits needs at least one entry")
  require(words.forall(_.trim.nonEmpty), "blocklist entries must be non-blank")

  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "blocklist_hits")

  @transient private lazy val singleSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.iterator.map(_.trim.toLowerCase)
      .filterNot(_.exists(_.isWhitespace)).foreach(s.add)
    s
  }
  @transient private lazy val phraseArr: Array[String] =
    words.iterator.map(_.trim.toLowerCase)
      .filter(_.exists(_.isWhitespace))
      .map(_.split("\\s+").mkString(" ")).toArray

  // one goto/fail automaton for ALL phrase entries — built lazily per
  // plan instance (driver), shipped as a reference object; matching is
  // one pass per row however long the blocklist is. Below the measured
  // crossover (~64 entries, measured) the intrinsified
  // per-phrase indexOf scan is faster, so short lists keep it
  private def useAutomaton: Boolean =
    phraseArr.length >= BlocklistHits.AcThreshold
  @transient private lazy val phraseAc: AhoCorasick =
    if (useAutomaton) new AhoCorasick(phraseArr) else null

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      if (useAutomaton)
        ExprKernels.blocklistHits(
          input.asInstanceOf[UTF8String], singleSet, phraseAc)
      else
        ExprKernels.blocklistHitsScan(
          input.asInstanceOf[UTF8String], singleSet, phraseArr))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val single = ctx.addReferenceObj("blocklistSingle", singleSet,
      "java.util.HashSet")
    if (useAutomaton) {
      val ac = ctx.addReferenceObj("blocklistAc", phraseAc,
        "graft.plans.AhoCorasick")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.ExprKernels.blocklistHits($c, $single, $ac);")
    } else {
      val phrases = ctx.addReferenceObj("blocklistPhrases", phraseArr,
        "java.lang.String[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.ExprKernels.blocklistHitsScan($c, $single, $phrases);")
    }
  }

  override protected def withNewChildInternal(c: Expression): BlocklistHits =
    copy(child = c)
}

object BlocklistHits {
  /** Phrase count at which the Aho-Corasick pass overtakes the
    * per-phrase `indexOf` scan (measured: the automaton is flat in P,
    * the scan linear; they cross ~64).
    */
  val AcThreshold: Int = 64
}

/** One-pass 64-bit simhash (Charikar): every input hash votes ±1 on each
  * of the 64 bit positions; the sign of each counter forms the output bit.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    expressions.arrayOfLongCheck(child, "simhash64")

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(ExprKernels.simhash64(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.simhash64($c);")

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** One-pass multi-table LSH bucketing of a float/double vector: all
  * `tables` sign-of-projection bucket ids (nbits planes each) from a
  * single decode of the vector. Replaces `array(lshBucket × tables)` —
  * tables × nbits VecDot evaluations that each re-read the vector through
  * ArrayData getters. Projection accumulation order matches [[VecDot]],
  * so bucket ids equal the unfused formulation bit-for-bit.
  */
case class LshBuckets(child: Expression, planes: Vector[Double],
                      tables: Int, nbits: Int, dim: Int)
    extends UnaryExpression {
  require(tables >= 1 && nbits >= 1 && dim >= 1)
  require(planes.length == tables * nbits * dim,
    s"planes must be tables*nbits*dim = ${tables * nbits * dim} doubles")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"lsh_buckets expects array<float|double>, got ${other.sql}")
  }

  private lazy val vecIsFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val planesArr: Array[Double] = planes.toArray

  override def nullSafeEval(input: Any): Any =
    ExprKernels.lshBuckets(input.asInstanceOf[ArrayData], vecIsFloat,
      planesArr, tables, nbits, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the plane matrix rides the generated class as a reference object —
    // decoded from the expression tree ONCE, not per row
    val planesRef = ctx.addReferenceObj("lshPlanes", planesArr, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.lshBuckets(" +
        s"$c, $vecIsFloat, $planesRef, $tables, $nbits, $dim);")
  }

  override protected def withNewChildInternal(c: Expression): LshBuckets =
    copy(child = c)
}

/** One-pass set-Jaccard over two `array<bigint>` hash sets — the verify
  * predicate of every minhash pipeline. Equals
  * `size(array_intersect(a,b)) / size(array_union(a,b))` (double), without
  * building two hash sets and materializing two arrays per candidate
  * pair. Both-empty → NULL (no features ⇒ no similarity claim).
  */
case class HashJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // both-empty → null
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hash_jaccard expects two array<bigint>, got $other")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    ExprKernels.hashJaccard(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("jac")
      s"""
         |java.lang.Double $tmp = graft.plans.ExprKernels.hashJaccard($a, $b);
         |${ev.isNull} = $tmp == null;
         |if (!${ev.isNull}) ${ev.value} = $tmp.doubleValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HashJaccard =
    copy(left = l, right = r)
}

/** One-pass set containment `|A∩B| / min(|A|,|B|)` over two
  * `array<bigint>` hash sets — the verify predicate of the doc-inside-doc
  * pipeline (see [[graft.plans.ExprKernels.hashContainment]]). Equals
  * `size(array_intersect(a,b)) / least(size(array_distinct(a)),
  * size(array_distinct(b)))` without materializing any array. Both-empty
  * → NULL.
  */
case class HashContainment(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // both-empty → null
  override def checkInputDataTypes() = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hash_containment expects two array<bigint>, got $other")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    ExprKernels.hashContainment(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("cont")
      s"""
         |java.lang.Double $tmp = graft.plans.ExprKernels.hashContainment($a, $b);
         |${ev.isNull} = $tmp == null;
         |if (!${ev.isNull}) ${ev.value} = $tmp.doubleValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HashContainment =
    copy(left = l, right = r)
}

/** One-pass normalized md5 content fingerprint — semantics identical to
  * `md5(trim(lower(regexp_replace(text, "\\s+", " "))))` (the dedup
  * fingerprint formulation), without the four chained whole-string
  * materializations that formulation pays per row: regexp engine pass +
  * lower copy + trim copy + md5 of the final copy. Fused: one
  * whitespace-collapsing scan, one ICU lowercase, one MD5.
  * NULL text → NULL. See [[ExprKernels.normalizedMd5]] for the parity
  * argument; NormalizedMd5Spec pins equality against the unfused chain.
  */
case class NormalizedMd5(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "normalized_md5")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.normalizedMd5(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.normalizedMd5($c);")

  override protected def withNewChildInternal(c: Expression): NormalizedMd5 =
    copy(child = c)
}

/** Mojibake repair (see [[ExprKernels.fixMojibake]]): UTF-8-as-Latin-1
  * mis-decodes ("Ã©" → "é") unwound up to 3 layers; applies only when a
  * strict UTF-8 re-decode succeeds, so valid text is never damaged.
  */
case class FixMojibake(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "fix_mojibake")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.fixMojibake(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.fixMojibake($c);")

  override protected def withNewChildInternal(c: Expression): FixMojibake =
    copy(child = c)
}

/** Deflate compression ratio `compressed_len / raw_len` of the text's
  * UTF-8 bytes (see [[ExprKernels.deflateRatio]]) — the model-free
  * quality signal that cuts BOTH tails: near-zero = machine-repetitive,
  * near/above 1.0 = incompressible noise. Codegen'd; thread-local
  * Deflater, no per-row native allocation.
  */
case class DeflateRatio(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "deflate_ratio")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.deflateRatio(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.deflateRatio($c);")

  override protected def withNewChildInternal(c: Expression): DeflateRatio =
    copy(child = c)
}

/** NFC normalization + whitespace collapse + control/format strip in one
  * pass (see [[ExprKernels.unicodeClean]] for the exact contract) — the
  * text-pipeline canonicalization step, codegen'd like its siblings.
  */
/** HTML main-text extraction (see [[ExprKernels.htmlExtract]]): drop
  * head/script/style/comments, strip tags to single-space separators,
  * decode core + numeric entities, collapse whitespace. One codegen'd
  * pass — the WARC→text ingest step.
  */
case class HtmlExtract(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "html_extract")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.htmlExtract(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.htmlExtract($c);")

  override protected def withNewChildInternal(c: Expression): HtmlExtract =
    copy(child = c)
}

/** Luhn-validated payment-card redaction (see
  * [[ExprKernels.luhnRedact]]): card-shaped digit runs (13-19 digits,
  * single space/dash separators) that PASS the Luhn checksum are
  * replaced by `<CARD>`; shaped-but-invalid runs are left verbatim —
  * the checksum is what keeps order ids and timestamps in the corpus
  * (90% of random digit runs fail it) while real card numbers never
  * escape. One codegen'd pass, no shuffle.
  */
case class LuhnRedact(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "luhn_redact")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.luhnRedact(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.luhnRedact($c);")

  override protected def withNewChildInternal(c: Expression): LuhnRedact =
    copy(child = c)
}

case class UnicodeClean(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "unicode_clean")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.unicodeClean(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.unicodeClean($c);")

  override protected def withNewChildInternal(c: Expression): UnicodeClean =
    copy(child = c)
}

private[plans] object DotMode extends Enumeration { val Dot, Cosine = Value }

/** Single-pass dot product / cosine similarity over two numeric array
  * columns (float or double elements), accumulating in double. Cosine of a
  * zero vector → NULL.
  */
/** Sign-bit binary quantization of a float/double vector (see
  * [[ExprKernels.signBits]]): `array<bigint>` of ceil(d/64) blocks, bit
  * set iff the component is positive — the 1-bit embedding code binary
  * retrieval prefilters with.
  */
case class SignBits(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private def elemType = child.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }
  override def checkInputDataTypes() = elemType match {
    case FloatType | DoubleType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sign_bits expects array<float|double>, got $other")
  }

  private lazy val isFloat = elemType == FloatType

  override def nullSafeEval(input: Any): Any =
    ExprKernels.signBits(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.signBits($c, $isFloat);")

  override protected def withNewChildInternal(c: Expression): SignBits =
    copy(child = c)
}

case class VecDot(left: Expression, right: Expression,
                  mode: DotMode.Value)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // cosine of a zero vector → null even from non-null children
  override def nullable: Boolean =
    mode == DotMode.Cosine || left.nullable || right.nullable
  private def elemType(e: Expression) = e.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }
  override def checkInputDataTypes() = {
    (elemType(left), elemType(right)) match {
      case (FloatType | DoubleType, FloatType | DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec dot expects two array<float|double>, got $other")
    }
  }

  // lazy: children may still be unresolved when the node is constructed
  private lazy val leftIsFloat = elemType(left) == FloatType
  private lazy val rightIsFloat = elemType(right) == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (mode == DotMode.Dot)
      java.lang.Double.valueOf(ExprKernels.vecDot(a, b, leftIsFloat, rightIsFloat))
    else
      ExprKernels.vecCosine(a, b, leftIsFloat, rightIsFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      if (mode == DotMode.Dot)
        s"${ev.value} = graft.plans.ExprKernels.vecDot($a, $b, $leftIsFloat, $rightIsFloat);"
      else {
        val tmp = ctx.freshName("cos")
        s"""
           |java.lang.Double $tmp =
           |  graft.plans.ExprKernels.vecCosine($a, $b, $leftIsFloat, $rightIsFloat);
           |${ev.isNull} = $tmp == null;
           |if (!${ev.isNull}) ${ev.value} = $tmp.doubleValue();
         """.stripMargin
      }
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** Z-order (Morton) value for multi-column file clustering: each column's
  * value is range-bucketed by binary search over its `(1<<bits)-1` quantile
  * boundaries (computed once per OPTIMIZE from an `approxQuantile` sketch —
  * Delta's `range_partition_id` approach), and the bucket indices' bits are
  * interleaved so files written in z-value order get tight min/max bounds
  * on EVERY clustered column at once, where a lexicographic sort only
  * bounds the leading one. NULL/NaN elements bucket to 0; a NULL input
  * array yields NULL.
  */
/** The quantile-boundary table of a [[ZValue]], compared and hashed by a
  * precomputed 128-bit digest: the table holds up to ~20k doubles
  * (4095 buckets × 5 columns), and a raw `Vector[Double]` field would make
  * every `equals`/`hashCode`/`semanticEquals` during Catalyst tree
  * transforms traverse all of them.
  */
final class ZBounds(val values: Vector[Double]) extends Serializable {
  private val digest: (Long, Long) = {
    var h1 = 0xcbf29ce484222325L; var h2 = 0x100000001b3L
    values.foreach { d =>
      val b = java.lang.Double.doubleToLongBits(d)
      h1 = (h1 ^ b) * 0x100000001b3L
      h2 = java.lang.Long.rotateLeft(h2 ^ b, 17) * 0x9e3779b97f4a7c15L
    }
    (h1, h2)
  }
  override def equals(o: Any): Boolean = o match {
    case z: ZBounds => (z eq this) ||
      (z.digest == digest && z.values.length == values.length)
    case _ => false
  }
  override def hashCode: Int = digest._1.toInt ^ (digest._2 >>> 32).toInt
  override def toString: String =
    s"ZBounds(${values.length} boundaries, digest=${digest._1.toHexString})"
}
object ZBounds { def apply(values: Vector[Double]): ZBounds = new ZBounds(values) }

case class ZValue(child: Expression, bounds: ZBounds,
                  nCols: Int, bits: Int)
    extends UnaryExpression {
  require(nCols >= 1 && bits >= 1 && nCols * bits <= 63,
    s"nCols*bits must fit a signed long, got $nCols*$bits")
  require(bounds.values.length == nCols * ((1 << bits) - 1),
    s"bounds must hold ((1<<bits)-1) doubles per column")

  override def dataType: DataType = LongType
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"z_value expects array<double>, got ${other.sql}")
  }

  @transient private lazy val boundsArr: Array[Double] = bounds.values.toArray

  override def nullSafeEval(input: Any): Any =
    ExprKernels.zValue(input.asInstanceOf[ArrayData], boundsArr, nCols, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // boundary table rides the generated class as a reference object —
    // decoded from the expression tree ONCE, not per row
    val boundsRef = ctx.addReferenceObj("zBounds", boundsArr, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.zValue($c, $boundsRef, $nCols, $bits);")
  }

  override protected def withNewChildInternal(c: Expression): ZValue =
    copy(child = c)
}

/** Hilbert-curve clustering value: [[ZValue]]'s range bucketing, mapped
  * through the Hilbert curve (Skilling 2004) instead of bit
  * interleaving — adjacent curve positions differ by one bucket step in
  * one dimension, so every clustered column's per-file bounds come out
  * at least as tight as Z-order's at equal file counts.
  */
case class HilbertValue(child: Expression, bounds: ZBounds,
                        nCols: Int, bits: Int)
    extends UnaryExpression {
  require(nCols >= 1 && bits >= 1 && nCols * bits <= 63,
    s"nCols*bits must fit a signed long, got $nCols*$bits")
  require(bounds.values.length == nCols * ((1 << bits) - 1),
    s"bounds must hold ((1<<bits)-1) doubles per column")

  override def dataType: DataType = LongType
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hilbert_value expects array<double>, got ${other.sql}")
  }

  @transient private lazy val boundsArr: Array[Double] = bounds.values.toArray

  override def nullSafeEval(input: Any): Any =
    ExprKernels.hilbertValue(input.asInstanceOf[ArrayData], boundsArr, nCols, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boundsRef = ctx.addReferenceObj("hBounds", boundsArr, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.hilbertValue($c, $boundsRef, $nCols, $bits);")
  }

  override protected def withNewChildInternal(c: Expression): HilbertValue =
    copy(child = c)
}

/** Serializable carrier for a built
  * [[org.apache.spark.util.sketch.BloomFilter]]: ships the compact
  * serialized bytes to executors and rebuilds the filter LAZILY once per
  * JVM (not per row, not per task) — the same shape Spark's own runtime
  * bloom pruning uses. Bits scale with -n·ln(fpp)/ln²2: ~1.2 MB per
  * million keys at 1% fpp, so the broadcast-a-filter regime is reference
  * sets up to ~10⁸ keys; beyond that, shard the reference or fall back
  * to the plain anti-join.
  */
final class BloomRef(val bytes: Array[Byte]) extends Serializable {
  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  def containsLong(v: Long): Boolean = filter.mightContainLong(v)
  // putString(s) == putBinary(utf8 bytes of s) in Spark's sketch, so the
  // UTF8String bytes probe matches a filter built over a string column
  def containsUtf8(s: UTF8String): Boolean =
    filter.mightContainBinary(s.getBytes)
}

/** A SHARDED Bloom filter bank — the reference-set regime past the
  * single-filter broadcast ceiling (~10⁸ keys ≈ 120 MB at 1% fpp).
  * Keys route to shard `pmod(xxhash64(key), shards)` and membership is
  * `shard.mightContainLong(xxhash64(key))` — the filters store the
  * 64-bit key hashes (exactly what Spark's own runtime bloom pruning
  * inserts), so build and probe agree by construction and a build can
  * run as ONE distributed aggregation (`BloomFilterAggregate` per
  * shard group) instead of a driver-merged whole-filter reduction.
  * Rebuilds lazily once per JVM, same as [[BloomRef]].
  *
  * Hash parity note: routing and membership use the IDENTICAL
  * `xxhash64` the SQL function computes (XXH64, seed 42; UTF8String
  * hashed over its bytes), pinned by spec — a drifted hash would break
  * the no-false-negative guarantee silently.
  */
final class BloomBankRef(val shardBytes: Array[Array[Byte]])
    extends Serializable {
  @transient private lazy val filters
      : Array[org.apache.spark.util.sketch.BloomFilter] =
    shardBytes.map { b =>
      if (b == null || b.isEmpty) null
      else org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(b))
    }
  def shards: Int = shardBytes.length
  private def contains(h: Long): Boolean = {
    val n = filters.length
    val s = (((h % n) + n) % n).toInt
    val f = filters(s)
    f != null && f.mightContainLong(h)
  }
  def containsLong(v: Long): Boolean =
    contains(org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(v, 42L))
  def containsUtf8(s: UTF8String): Boolean =
    contains(org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes, 42L))
}

/** `bloom_bank_might_contain(key, bank)` — the [[BloomBankRef]] probe at
  * scan speed: one xxhash64, one shard pick, one filter query per row.
  */
case class BloomBankMightContain(child: Expression, bank: BloomBankRef)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes() = child.dataType match {
    case LongType | StringType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom_bank_might_contain expects bigint or string, got ${other.sql}")
  }

  private def isString = child.dataType == StringType

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(
      if (isString) bank.containsUtf8(input.asInstanceOf[UTF8String])
      else bank.containsLong(input.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBankRef", bank,
      "graft.plans.BloomBankRef")
    val call = if (isString) "containsUtf8" else "containsLong"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.$call($c);")
  }

  override protected def withNewChildInternal(c: Expression): BloomBankMightContain =
    copy(child = c)
}

/** `bloom_might_contain(key, filter)` — membership of a bigint/string key
  * in a pre-built Bloom filter, evaluated at scan speed inside
  * whole-stage codegen. The query-side prefilter of
  * [[graft.text.BloomDedup]]: rows the filter rejects are DEFINITELY new
  * (Bloom filters have no false negatives) and skip the exact-confirm
  * join entirely.
  */
case class BloomMightContain(child: Expression, bloom: BloomRef)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes() = child.dataType match {
    case LongType | StringType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain expects bigint or string, got ${other.sql}")
  }

  private def isString = child.dataType == StringType

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(
      if (isString) bloom.containsUtf8(input.asInstanceOf[UTF8String])
      else bloom.containsLong(input.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomRef", bloom, "graft.plans.BloomRef")
    val call = if (isString) "containsUtf8" else "containsLong"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.$call($c);")
  }

  override protected def withNewChildInternal(c: Expression): BloomMightContain =
    copy(child = c)
}

/** `canonicalize_url(url)` — RFC-3986-style URL canonicalization for
  * URL-level dedup (see [[ExprKernels.canonicalizeUrl]] for the exact
  * rule set): scheme/host lowercase, default ports and fragments
  * dropped, tracking params removed, surviving params stably sorted by
  * name, trailing path slash trimmed. One pass per row under
  * whole-stage codegen; non-URL inputs pass through trimmed-only.
  */
case class UrlCanonicalize(child: Expression,
                           dropNames: Seq[String],
                           dropPrefixes: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "canonicalize_url")

  @transient private lazy val nameSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    dropNames.foreach(n => s.add(n.toLowerCase(java.util.Locale.ROOT)))
    s
  }
  @transient private lazy val prefixArr: Array[String] =
    dropPrefixes.map(_.toLowerCase(java.util.Locale.ROOT)).toArray

  override def nullSafeEval(input: Any): Any =
    ExprKernels.canonicalizeUrl(
      input.asInstanceOf[UTF8String], nameSet, prefixArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val names = ctx.addReferenceObj("urlDropNames", nameSet,
      "java.util.HashSet")
    val prefixes = ctx.addReferenceObj("urlDropPrefixes", prefixArr,
      "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.canonicalizeUrl($c, $names, $prefixes);")
  }

  override protected def withNewChildInternal(c: Expression): UrlCanonicalize =
    copy(child = c)
}

object UrlCanonicalize {
  /** The default tracking-param strip set: the click/campaign ids the
    * major platforms append (all documented publicly; none carry
    * content semantics).
    */
  val DefaultDropNames: Seq[String] =
    Seq("gclid", "fbclid", "msclkid", "mc_eid", "igshid", "mkt_tok")
  val DefaultDropPrefixes: Seq[String] = Seq("utm_")
}

/** `html_links(html)` — outlink extraction for the crawl frontier:
  * `array<struct<href, anchor>>`, one element per `<a>` tag carrying an
  * `href` (see [[ExprKernels.htmlLinks]]). Hrefs entity-decoded
  * verbatim; anchors tag-stripped + collapsed. One pass per row under
  * whole-stage codegen.
  */
/** Sitemap entries (sitemaps.org): `array<struct<loc, lastmod, kind>>`
  * of a sitemap or sitemap-index document — the crawl frontier's seed
  * source. See [[ExprKernels.sitemapEntries]].
  */
case class SitemapEntries(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("loc", StringType, nullable = false),
      StructField("lastmod", StringType, nullable = true),
      StructField("kind", StringType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "sitemap_entries")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.sitemapEntries(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.sitemapEntries($c);")

  override protected def withNewChildInternal(c: Expression): SitemapEntries =
    copy(child = c)
}

case class HtmlLinks(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("href", StringType, nullable = false),
      StructField("anchor", StringType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "html_links")

  override def nullSafeEval(input: Any): Any =
    ExprKernels.htmlLinks(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ExprKernels.htmlLinks($c);")

  override protected def withNewChildInternal(c: Expression): HtmlLinks =
    copy(child = c)
}

/** `robots_allowed(robots_txt, path)` — RFC 9309 robots.txt evaluation
  * for the crawl gate (see [[graft.text.RobotsTxt]]): group selection
  * by longest user-agent prefix with `*` fallback, most-specific
  * (longest-pattern) rule wins with allow beating disallow on ties,
  * `*` wildcards and `$` anchors. The per-domain body parse is
  * memoized, so the per-row cost is the rule scan.
  */
/** `Sitemap:` directives of a robots.txt body — `array<string>` in
  * document order (group-independent per RFC 9309 §2.2.4). The
  * discovery hop robots.txt → [[graft.sources.Sitemap]] → frontier.
  */
case class RobotsSitemaps(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "robots_sitemaps")

  override def nullSafeEval(input: Any): Any =
    graft.text.RobotsTxt.sitemapUrlsData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.text.RobotsTxt.sitemapUrlsData($c);")

  override protected def withNewChildInternal(c: Expression): RobotsSitemaps =
    copy(child = c)
}

/** Effective `Crawl-delay` seconds of a robots.txt body for `agent` —
  * nullable double; group-scoped selection with the same merge rule as
  * the allow gate. The frontier scheduler's per-domain politeness
  * input. See [[graft.text.RobotsTxt.crawlDelay]].
  */
case class RobotsCrawlDelay(child: Expression, agent: String)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "robots_crawl_delay")

  override def nullSafeEval(input: Any): Any =
    graft.text.RobotsTxt.crawlDelayBoxed(
      input.asInstanceOf[UTF8String], agent)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val agentRef = ctx.addReferenceObj("robotsAgent", agent,
      "java.lang.String")
    val boxed = ctx.freshName("crawlDelayBoxed")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Double $boxed =
        graft.text.RobotsTxt.crawlDelayBoxed($c, $agentRef);
      if ($boxed == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $boxed.doubleValue(); }
    """)
  }

  override protected def withNewChildInternal(c: Expression): RobotsCrawlDelay =
    copy(child = c)
}

case class RobotsAllowed(left: Expression, right: Expression, agent: String)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes() = {
    val l = expressions.stringCheck(left, "robots_allowed")
    if (l != org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess) l
    else expressions.stringCheck(right, "robots_allowed")
  }

  override def nullSafeEval(robots: Any, path: Any): Any =
    java.lang.Boolean.valueOf(graft.text.RobotsTxt.allowedCached(
      robots.asInstanceOf[UTF8String].toString, agent,
      path.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val agentRef = ctx.addReferenceObj("robotsAgent", agent,
      "java.lang.String")
    nullSafeCodeGen(ctx, ev, (r, p) =>
      s"""${ev.value} = graft.text.RobotsTxt.allowedCached(
         |  $r.toString(), $agentRef, $p.toString());""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RobotsAllowed =
    copy(left = newLeft, right = newRight)
}

/** `registrable_domain(url)` — the eTLD+1 grouping key per-domain crawl
  * curation caps on (see [[ExprKernels.registrableDomain]] for the
  * public-suffix algorithm). The rule table is caller-supplied
  * publicsuffix.org syntax and rides codegen as one reference object;
  * returns null for malformed hosts and bare public suffixes.
  */
case class RegistrableDomain(child: Expression, rules: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    expressions.stringCheck(child, "registrable_domain")

  @transient private lazy val table = new SuffixTable(rules)

  override def nullSafeEval(input: Any): Any =
    ExprKernels.registrableDomain(input.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("suffixTable", table,
      "graft.plans.SuffixTable")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.plans.ExprKernels.registrableDomain($c, $ref);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildInternal(c: Expression): RegistrableDomain =
    copy(child = c)
}

object RegistrableDomain {
  /** Starter rule set: a small slice of the public suffix list — the
    * generic TLDs plus the common two-level country suffixes and the
    * canonical wildcard/exception pair. Production callers feed the
    * FULL publicsuffix.org list (one rule per line) instead; the
    * algorithm and table are list-size-independent.
    */
  val DefaultRules: Seq[String] = Seq(
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz",
    "io", "co", "ai", "dev", "app", "me", "tv", "cc", "xyz",
    "de", "fr", "it", "nl", "es", "se", "no", "fi", "dk", "pl", "cz",
    "ch", "at", "be", "pt", "gr", "ro", "hu", "ie", "ru", "cn", "jp",
    "kr", "ca", "mx", "ar", "br", "cl", "in", "id", "th", "vn", "tr",
    "il", "sa", "ae", "eg", "ng", "ke", "za", "au", "nz", "uk",
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "ltd.uk", "plc.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.nz", "org.nz", "net.nz", "govt.nz",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp",
    "co.kr", "or.kr", "re.kr", "go.kr",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "gov.in", "ac.in",
    "co.za", "org.za", "net.za", "gov.za",
    "com.mx", "org.mx", "gob.mx",
    "com.ar", "org.ar", "gob.ar",
    "com.tr", "org.tr", "gov.tr",
    "co.il", "org.il", "gov.il",
    // private-registry suffixes (user sites are separate domains)
    "github.io", "gitlab.io", "blogspot.com", "netlify.app",
    "vercel.app", "web.app", "pages.dev", "herokuapp.com",
    "s3.amazonaws.com", "cloudfront.net",
    // the canonical wildcard + exception pair from the PSL
    "*.ck", "!www.ck")
}
