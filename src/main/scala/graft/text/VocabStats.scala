package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-frequency quality signals (the Gopher/CCNet vocabulary
  * filters): each document scored against the corpus's own word
  * statistics — rare-word mass and in-vocabulary rate. Unlike the
  * per-document surface stats ([[TextAnalysis.textStats]]), these are
  * CROSS-document signals: a word is "rare" or "in-vocabulary" relative
  * to the whole corpus (or a reference corpus passed as `vocabOf`).
  *
  * Every output is an integer count — ratios are left to the caller —
  * so results are exactly reproducible across engines (no
  * floating-point sum-order sensitivity), which is also what makes the
  * oracle hash-match.
  *
  * Scale shape: one explode; the vocabulary is the canonical wordcount
  * aggregation (map-side partials, shuffle on the word); the top-K
  * vocabulary is K rows (broadcast by AQE); the per-document re-join
  * hashes on the word and re-aggregates on the document id. No
  * driver-side state beyond the K-row limit.
  */
object VocabStats {

  /** Lowercased whitespace tokens (non-empty). */
  private def words(text: Column): Column =
    filter(split(lower(text), "\\s+"), w => length(w) > 0)

  /** Corpus word counts: `(word, n)` over all documents. */
  def vocabulary(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Per-document vocabulary signals against `vocab` (default: the
    * corpus itself):
    *
    *  - `n_words`      — token count;
    *  - `n_types`      — distinct token count (type-token ratio's
    *                     numerator);
    *  - `n_rare`       — tokens whose corpus count <= `rareMax`
    *                     (hapax/dis legomena mass — high = noisy text);
    *  - `n_top`        — tokens inside the top-`topK` vocabulary by
    *                     corpus count (ties broken by word, so the cut
    *                     is deterministic); low coverage = off-domain
    *                     or non-lexical content.
    */
  def vocabSignals(df: DataFrame, idCol: String, textCol: String,
                   rareMax: Long = 2, topK: Int = 1000,
                   vocabOf: Option[DataFrame] = None): DataFrame = {
    require(rareMax >= 1 && topK >= 1,
      s"need rareMax >= 1 and topK >= 1, got $rareMax/$topK")
    val vocab = vocabOf.getOrElse(vocabulary(df, textCol))
    // TakeOrderedAndProject, not a single-partition row_number window:
    // the vocabulary of a 100 TB corpus is itself large
    val top = vocab.orderBy(col("n").desc, col("word")).limit(topK)
      .select(col("word"), lit(1).as("__top"))
    val toks = df.select(col(idCol), explode(words(col(textCol))).as("word"))
    toks
      .join(vocab.select(col("word"),
        (col("n") <= rareMax).cast("int").as("__rare")), Seq("word"), "left")
      .join(top.select(col("word"), col("__top")), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        countDistinct(col("word")).as("n_types"),
        // a word absent from a REFERENCE vocab counts as rare (OOV)
        sum(coalesce(col("__rare"), lit(1))).as("n_rare"),
        sum(coalesce(col("__top"), lit(0))).cast("long").as("n_top"))
  }

  /** Per-document unigram negative log-likelihood (the CCNet-style LM
    * quality proxy, computable without any trained model): with
    * add-one-smoothed corpus unigram probabilities
    * `p(w) = (c_w + 1) / (T + |V|)`,
    *
    *   `nll(d) = mean_w −ln p(w) = ln(T+|V|) − (Σ_w ln(c_w+1)) / n_words`
    *
    * Low NLL = common-word prose; high NLL = rare-word/noisy text —
    * CCNet buckets a corpus by exactly this kind of score. `vocabOf`
    * scores against a REFERENCE corpus (OOV words get count 0).
    *
    * Determinism: the float fold is order-pinned — per-document counts
    * are collected, SORTED, and summed in array order (one `aggregate`
    * fold), so the result is identical run-to-run and engine-to-engine
    * (a plain groupBy-sum of doubles would depend on shuffle arrival
    * order). Same scale shape as [[vocabSignals]]: one explode, the
    * word-count shuffle, one re-join; the (T, |V|) totals are a single
    * broadcast row.
    */
  /** Per-document word-entropy quality signal: the Shannon entropy of
    * the document's own word distribution,
    * `H = ln(len) − (Σ_w tf_w · ln tf_w) / len`, plus `n_tokens` /
    * `n_types`. Low entropy = repetitive text (keyword stuffing,
    * boilerplate loops) — the information-theoretic complement of the
    * n-gram repetition fractions in
    * [[graft.text.QualityFilters.repetitionStats]], which see LOCAL
    * repeats where entropy sees the global distribution. Documents with
    * no tokens carry NULL entropy (no distribution to measure).
    *
    * Determinism: the tf list sorts as integers before the double fold,
    * so both engines sum the identical sequence; round(4) absorbs ln
    * ulp. Scale shape: one explode → (doc, word) count with map-side
    * partials, then a per-document aggregation of bounded tf lists —
    * text never shuffles.
    */
  def wordEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol), explode(words(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf"))
    val agg = tf.groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"), count(lit(1)).as("n_types"),
        array_sort(collect_list(col("tf"))).as("__ts"))
      .select(col(idCol), col("n_tokens"), col("n_types"),
        round(log(col("n_tokens")) -
          aggregate(col("__ts"), lit(0.0d), (a, t) => a + t * log(t))
            / col("n_tokens"), 4).as("entropy"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        col("entropy"))
  }

  def unigramNll(df: DataFrame, idCol: String, textCol: String,
                 vocabOf: Option[DataFrame] = None): DataFrame = {
    val vocab = vocabOf.getOrElse(vocabulary(df, textCol))
    val totals = vocab.agg(sum(col("n")).as("__t"), count(lit(1)).as("__v"))
    val toks = df.select(col(idCol), explode(words(col(textCol))).as("word"))
    toks.join(vocab, Seq("word"), "left")
      .select(col(idCol), coalesce(col("n"), lit(0L)).as("__c"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sort_array(collect_list(col("__c"))).as("__cs"))
      .crossJoin(broadcast(totals))
      .select(col(idCol), col("n_words"),
        round(
          log(col("__t") + col("__v")) -
            aggregate(col("__cs"), lit(0.0), (a, c) => a + log(c + lit(1))) /
              col("n_words"),
          4).as("nll"))
  }

  /** Per-document interpolated BIGRAM negative log-likelihood — one
    * step closer to CCNet's actual KenLM scorer than [[unigramNll]]
    * (Wenzek et al. 2020 score with a 5-gram KenLM; the bigram captures
    * the word-ORDER signal a unigram model cannot: shuffled prose and
    * real prose share a unigram score but not a bigram one).
    * Jelinek-Mercer interpolation with the add-one unigram as the
    * backoff floor:
    *
    *   p(w2 | w1) = λ · c(w1 w2)/c(w1) + (1−λ) · (c(w2)+1)/(T+|V|)
    *
    *   nll(d) = mean over the doc's bigrams of −ln p(w2|w1)
    *
    * Counts come from the corpus itself (self-scoring, like
    * [[unigramNll]]'s default), so every bigram has c ≥ 1 and every
    * history c(w1) ≥ 1 — the λ term never divides by zero. Documents
    * with fewer than two words surface with `n_bigrams = 0` and a null
    * score.
    *
    * Determinism: the float fold is order-pinned on INTEGERS — each
    * document collects its `(cb, ch, cu)` count triples, sorts the
    * struct array (field-wise, identical in any engine), and folds the
    * ln terms in that order; λ and 1−λ are evaluated as the same double
    * expression on both sides and ln ulp noise is absorbed by round(4).
    *
    * Scale shape: bigrams come from the words array by position (a
    * `transform` over the array — NO positional self-join); the bigram
    * vocabulary is the canonical pair-count aggregation (map-side
    * partials, shuffle on the pair); the per-bigram re-join hashes on
    * the pair and the two unigram joins on the word; the (T, |V|)
    * totals are a single broadcast row. Nothing corpus-sized ever
    * reaches the driver.
    */
  def bigramNll(df: DataFrame, idCol: String, textCol: String,
                lambda: Double = 0.7): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"need 0 < lambda < 1, got $lambda")
    val vocab = vocabulary(df, textCol)
    val totals = vocab.agg(sum(col("n")).as("__t"), count(lit(1)).as("__v"))
    val ws = df.select(col(idCol), words(col(textCol)).as("__ws"))
    val bg = ws.select(col(idCol), explode(transform(
        slice(col("__ws"), lit(1), greatest(size(col("__ws")) - 1, lit(0))),
        (w, i) => struct(w.as("w1"),
          element_at(col("__ws"), i + 2).as("w2")))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2"))
    val bcnt = bg.groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__cb"))
    val scored = bg
      .join(bcnt, Seq("__w1", "__w2"))
      .join(vocab.select(col("word").as("__w1"), col("n").as("__ch")),
        Seq("__w1"))
      .join(vocab.select(col("word").as("__w2"), col("n").as("__cu")),
        Seq("__w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(
          struct(col("__cb"), col("__ch"), col("__cu")))).as("__ts"))
      .crossJoin(broadcast(totals))
      .select(col(idCol), col("n_bigrams"),
        round(-aggregate(col("__ts"), lit(0.0), (a, x) =>
            a + log(lit(lambda) * (x.getField("__cb") / x.getField("__ch")) +
              (lit(1.0) - lit(lambda)) *
                ((x.getField("__cu") + lit(1L)) /
                  (col("__t") + col("__v"))))) /
          col("n_bigrams"), 4).as("nll"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("nll"))
  }

  /** Per-document interpolated KNESER-NEY trigram negative
    * log-likelihood — the real CCNet scorer class (Wenzek et al. 2020
    * filter with a 5-gram modified-KN KenLM; this is interpolated KN at
    * trigram order, self-scored on the corpus — the top of the repo's
    * LM ladder above [[unigramNll]]'s add-one and [[bigramNll]]'s
    * Jelinek-Mercer). Chen & Goodman (1999) interpolated form, one
    * absolute discount `d` per order:
    *
    *   p(w3|w1w2) = max(c(w1w2w3)−d, 0)/c(w1w2)
    *                + d·N1+(w1w2·)/c(w1w2) · p(w3|w2)
    *   p(w3|w2)   = max(N1+(·w2w3)−d, 0)/N1+(·w2·)
    *                + d·N1+(w2·)/N1+(·w2·) · p(w3)
    *   p(w3)      = N1+(·w3) / N1+(··)
    *
    * The N1+ are TYPE (continuation) counts — the lower orders ask "how
    * many distinct contexts precede this n-gram", not how often it
    * occurs: the KN insight that demotes words frequent only inside one
    * collocation ("Francisco" scores low as a continuation even though
    * "San Francisco" is frequent). Self-scoring keeps every evaluated
    * trigram's counts ≥ 1, so with d < 1 every term is positive and no
    * normalizer is zero. Documents under three words surface with
    * `n_trigrams = 0` and a null score.
    *
    * Determinism (the [[bigramNll]] discipline): each document collects
    * its 7-int count tuples (c3, ch, n3f, cc2, nmid, n2f, cc1), sorts
    * the struct array field-wise, and folds the ln terms in that order;
    * the probability expression is written with the identical
    * association on both engines and ulp noise is absorbed by round(4).
    *
    * Scale shape: trigrams/bigrams come from the words array by
    * position (a `transform` — no positional self-joins); ALL
    * continuation counts derive from the trigram/bigram TYPE tables
    * (far below token mass); the aux joins assemble a trigram-level
    * MODEL table at type mass, and the only token-mass join is the
    * single hash join of occurrences against that model on
    * (w1,w2,w3). The N1+(··) total is one broadcast row. Nothing
    * corpus-sized reaches the driver.
    */
  def trigramKnNll(df: DataFrame, idCol: String, textCol: String,
                   discount: Double = 0.75): DataFrame =
    knNllFromModel(fitKnModel(df, textCol), df, idCol, textCol, discount)

  /** The words → positional-transform trigram extraction shared by
    * [[fitKnModel]] and [[knNllFromModel]] (no positional self-joins —
    * each trigram is built inside one `transform` over the words array).
    * Returns (trigram stream, tokenized corpus); every bigram count the
    * model needs derives from the trigram type table.
    */
  private def knGrams(df: DataFrame, idCol: String, textCol: String,
                      persistWs: Boolean)
      : (DataFrame, DataFrame) = {
    // in the FIT the trigram stream AND the bigram-derivation's
    // doc-mass boundary stream read the tokenized corpus — persist it
    // once there (the caller unpersists when its tables materialize);
    // in SERVING only the trigram stream is consumed, exactly once,
    // so a cache would be a pure leak — skip it
    val ws0 = df.select(col(idCol), words(col(textCol)).as("__ws"))
    val ws = if (persistWs) ws0.persist() else ws0
    val tg = ws.select(col(idCol), explode(transform(
        slice(col("__ws"), lit(1), greatest(size(col("__ws")) - 2, lit(0))),
        (w, i) => struct(w.as("w1"),
          element_at(col("__ws"), i + 2).as("w2"),
          element_at(col("__ws"), i + 3).as("w3")))).as("__tg"))
      .select(col(idCol), col("__tg.w1").as("__w1"),
        col("__tg.w2").as("__w2"), col("__tg.w3").as("__w3"))
    (tg, ws)
  }

  /** FIT the interpolated-KN trigram model ONCE as a persistable table —
    * the fit-once/score-many split the production CCNet shape needs (a
    * PRETRAINED KenLM scores each crawl snapshot; nobody re-counts the
    * reference corpus per query). One row per corpus trigram type
    * carrying every count the scorer folds — (w1, w2, w3, c3, ch, n3f,
    * cc2, nmid, n2f, cc1) — plus the one corpus scalar `b` (= N1+(··))
    * as a constant column, so the model round-trips a single parquet
    * write/read (the `search_bm25_indexed` pattern). COUNTS, not
    * probabilities: [[knNllFromModel]] folds the identical IEEE
    * expression tree from the integers whether the model was just fit
    * or read back from disk, so serving from the persisted model is
    * hash-identical to the one-shot [[trigramKnNll]]. The probability
    * VIEW of the same model (for interchange with KenLM/SRILM
    * toolchains) is [[Arpa.fromKnModel]].
    *
    * Scale shape: everything here is TYPE mass (trigram/bigram type
    * tables and their group-bys); the token-mass n-gram streams reduce
    * map-side into the type tables and nothing corpus-sized survives.
    */
  def fitKnModel(df: DataFrame, textCol: String): DataFrame = {
    val idCol = "__kn_id"
    val (tg, ws) =
      knGrams(df.withColumn(idCol, lit(0L)), idCol, textCol,
        persistWs = true)
    // tcnt is the fit's ONE token-mass explode + groupBy (persisted:
    // it feeds the model base, n3f, nmid, and the merged level).
    // bcnt = c(w1 w2) AND cc2 = N1+(·w2w3) both come off ONE
    // suffix-keyed aggregation over tcnt ([[suffixTypeMerge]]): the
    // suffix sums are the bigram token counts (plus each document's
    // FIRST bigram as the boundary term) and the per-group real-row
    // count is exactly the continuation count — the bigram explode
    // and its exchange disappear, and cc2's separate aggregation
    // folds into the same exchange (guide §2 do-fewer-shuffles).
    // Exact over integers: bit-identical to the exploded bigram
    // counts (MknTypeTableDerivationSpec). m2 persists — its bcnt
    // view feeds 4 consumers (model join, N1+(w2·), N1+(·w3),
    // N1+(··)) and its cc2 view the model join.
    // NO history-keyed repartition here (the fitMknModel order ≥ 4
    // trick): at order 3 map-side partial aggregation collapses the
    // token stream far below type mass, so a raw history-keyed
    // exchange SHIPS MORE (measured at sf0.1: 1.4 → 6.2 MiB total)
    val tcnt = tg.groupBy(col("__w1"), col("__w2"), col("__w3"))
      .agg(count(lit(1)).as("__c3")).persist()
    val m2 = suffixTypeMerge(
      tcnt.withColumnRenamed("__c3", "__c"), ws, 2).persist()
    val bcnt = m2.select(col("__w1"), col("__w2"),
      col("__c").as("__ch")) // c(w1 w2) = tri history
    val cc2 = m2.where(col("__cc") > 0) // boundary-only bigrams out:
      // the view is then EXACTLY the old tcnt.groupBy(w2,w3) table
      .select(col("__w1").as("__w2"), col("__w2").as("__w3"),
        col("__cc").as("__cc2")) // N1+(·w2w3)
    // type-mass continuation counts (each from a TYPE table group-by)
    val n3f = tcnt.groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__n3f")) // N1+(w1w2·)
    val auxMid = tcnt.groupBy(col("__w2"))
      .agg(count(lit(1)).as("__nmid")) // N1+(·w2·)
      .join(bcnt.groupBy(col("__w1")).agg(count(lit(1)).as("__n2f"))
        .withColumnRenamed("__w1", "__w2"), Seq("__w2")) // N1+(w2·)
    val cc1 = bcnt.groupBy(col("__w2")).agg(count(lit(1)).as("__cc1"))
      .withColumnRenamed("__w2", "__w3") // N1+(·w3)
    val btot = bcnt.agg(count(lit(1)).as("__b")) // N1+(··)

    // the model: every aux joined at TYPE mass onto the trigram table.
    // Eager, like [[fitMknModel]]: the model persists and counts here
    // so every intermediate cache can be freed before returning — the
    // model is then the call's ONLY surviving cache (callers done with
    // the in-memory copy should `model.unpersist()`)
    val out = tcnt
      .join(bcnt, Seq("__w1", "__w2"))
      .join(n3f, Seq("__w1", "__w2"))
      .join(cc2, Seq("__w2", "__w3"))
      .join(auxMid, Seq("__w2"))
      .join(cc1, Seq("__w3"))
      .crossJoin(broadcast(btot))
      .select(col("__w1").as("w1"), col("__w2").as("w2"),
        col("__w3").as("w3"), col("__c3").as("c3"), col("__ch").as("ch"),
        col("__n3f").as("n3f"), col("__cc2").as("cc2"),
        col("__nmid").as("nmid"), col("__n2f").as("n2f"),
        col("__cc1").as("cc1"), col("__b").as("b"))
      .persist()
    // finally, matching fitMknModel's discipline: a failure mid-count
    // must not pin bcnt/tcnt/ws for the session's lifetime
    try out.count()
    finally Seq(m2, tcnt, ws).foreach(_.unpersist(blocking = false))
    out
  }

  /** SCORE documents from a fitted (possibly persisted-and-reloaded)
    * [[fitKnModel]] table: the text contributes only its trigram
    * OCCURRENCES (one positional transform — never re-counted); every
    * count folds out of the model via the single token-mass hash join.
    * Trigrams absent from the model are dropped from the fold (and from
    * `n_trigrams`) — self-scoring never hits that branch; scoring NEW
    * text against a frozen model skips unseen trigrams, the documented
    * serving semantic (a full backoff evaluation for unseen n-grams is
    * the ARPA consumers' path).
    */
  def knNllFromModel(model: DataFrame, df: DataFrame, idCol: String,
                     textCol: String,
                     discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"need 0 < discount < 1, got $discount")
    val d = lit(discount)
    val (tg, _) = knGrams(df, idCol, textCol, persistWs = false)
    val m = model.select(col("w1").as("__w1"), col("w2").as("__w2"),
      col("w3").as("__w3"), col("c3").as("__c3"), col("ch").as("__ch"),
      col("n3f").as("__n3f"), col("cc2").as("__cc2"),
      col("nmid").as("__nmid"), col("n2f").as("__n2f"),
      col("cc1").as("__cc1"), col("b").as("__b"))
    val scored = tg
      // broadcast: the model is type-mass at every scale, but a
      // parquet-reloaded model's size estimate routinely exceeds the
      // auto threshold and the fallback sort-merge join shuffles the
      // corpus trigram stream (see mknNllFromModel's note)
      .join(broadcast(m), Seq("__w1", "__w2", "__w3")) // the one token-mass join
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"), first(col("__b")).as("__b"),
        sort_array(collect_list(struct(
          col("__c3"), col("__ch"), col("__n3f"), col("__cc2"),
          col("__nmid"), col("__n2f"), col("__cc1")))).as("__ts"))
      .select(col(idCol), col("n_trigrams"),
        round(-aggregate(col("__ts"), lit(0.0), (a, x) => {
          val puni = x.getField("__cc1") / col("__b")
          val pmid =
            greatest(x.getField("__cc2") - d, lit(0.0)) / x.getField("__nmid") +
              d * x.getField("__n2f") / x.getField("__nmid") * puni
          a + log(
            greatest(x.getField("__c3") - d, lit(0.0)) / x.getField("__ch") +
              d * x.getField("__n3f") / x.getField("__ch") * pmid)
        }) / col("n_trigrams"), 4).as("nll"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"), col("nll"))
  }

  /** CCNet perplexity bucketing (Wenzek et al. 2020): documents rank by
    * their LM quality score within each language and split into
    * `buckets` equal-count tiers — head (1) / middle / tail (`buckets`)
    * — the published recipe keeps or re-weights tiers rather than hard
    * thresholds. The score here is [[unigramNll]] (the model-free LM
    * proxy); ties at rounded scores break by id, so the tier CUT is
    * deterministic for both engines. One window pass over the scored
    * rows per language — |corpus| rows shuffle once on the language key.
    */
  def nllBuckets(df: DataFrame, idCol: String, textCol: String,
                 langCol: String, buckets: Int = 3,
                 vocabOf: Option[DataFrame] = None): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    val scored = unigramNll(df, idCol, textCol, vocabOf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol)).orderBy(col("nll"), col(idCol))
    scored.join(df.select(col(idCol), col(langCol)), Seq(idCol))
      .withColumn("bucket", ntile(buckets).over(w))
      .select(col(idCol), col(langCol), col("n_words"), col("nll"),
        col("bucket").cast("long").as("bucket"))
  }

  /** MODIFIED Kneser-Ney trigram NLL — the discounting KenLM actually
    * implements (Chen & Goodman 1999 §3's "modified" variant, the
    * strongest member of this repo's LM ladder): instead of
    * [[trigramKnNll]]'s single absolute discount, each order carries
    * THREE discounts (for counts of 1, 2, and ≥ 3) estimated from the
    * order's count-of-count statistics:
    *
    *   Y  = n1 / (n1 + 2·n2)
    *   D1 = 1 − 2·Y·n2/n1,  D2 = 2 − 3·Y·n3/n2,  D3 = 3 − 4·Y·n4/n3
    *
    * with (n1..n4) the number of trigram types occurring exactly 1..4
    * times for the top order, and of bigram CONTINUATION counts for the
    * middle order. The backoff weight becomes the discount mass
    * actually removed, γ(h) = (D1·N1(h·) + D2·N2(h·) + D3·N3+(h·)) /
    * c(h), so the model stays properly normalized per history. The
    * continuation unigram is undiscounted ([[trigramKnNll]]'s rule).
    *
    * Determinism: the six discounts derive from nine corpus INTEGERS
    * (collected once, folded as literals with the same IEEE expression
    * tree the oracle computes); the per-doc fold is order-pinned on the
    * sorted 11-int count tuples; round(4) absorbs ulp noise.
    *
    * When an order's estimate is UNSOUND — count-of-counts n1..n4 not
    * all positive (no estimate exists; KenLM aborts training on such
    * corpora), or an estimated discount outside its sound range
    * (0 ≤ D1 ≤ 1, 0 ≤ D2 ≤ 2, 0 ≤ D3 ≤ 3 — outside it a probability
    * can go NEGATIVE via a negative backoff weight) — THAT ORDER falls
    * back to the single absolute discount D1 = D2 = D3 = 0.75: the
    * standard practical fallback, applied per order and replayed
    * identically by the oracle. The synthetic sf0.1 corpus hits BOTH
    * cases: its small vocabulary leaves no singleton continuation
    * bigrams (u1 = 0) and its trigram count-of-counts are
    * non-monotone (n3 > n2), driving D2/D3 negative.
    *
    * Scale shape identical to [[trigramKnNll]]: type-mass aux tables
    * assemble a trigram-level model, one token-mass hash join, the
    * count-of-count scalars are one tiny aggregated row.
    */
  def trigramModKnNll(df: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    ngramModKnNll(df, idCol, textCol, order = 3)
      .withColumnRenamed("n_ngrams", "n_trigrams")

  /** [[trigramModKnNll]] at ANY order — the published CCNet recipe is a
    * 5-GRAM modified-KN KenLM (Wenzek et al. 2020 §3.2), and the
    * type-table recursion is uniform, so the order is a parameter:
    *
    *  - top order N scores from TOKEN counts c(w1..wN) over the token
    *    history c(w1..w_{N−1});
    *  - every middle order k scores from CONTINUATION counts
    *    N1+(·g) computed on the RAW (k+1)-gram TYPE table (the SRILM /
    *    KenLM rule: lower orders see type mass, never token mass), the
    *    denominator N1+(·u·) from the same table grouped by the
    *    context, and its own removed-mass backoff weight
    *    γ(u) = (D1·N1(u·) + D2·N2(u·) + D3·N3+(u·)) / N1+(·u·);
    *  - the continuation unigram N1+(·w)/N1+(··) is undiscounted.
    *
    * Each order estimates its OWN (D1, D2, D3) from its count-of-count
    * statistics with the per-order UNSOUND-estimate fallback to 0.75
    * ([[trigramModKnNll]]'s rule, applied per order). Determinism: the
    * discounts derive from 4·(N−1)+1 corpus integers collected once and
    * folded as literals; the per-doc fold sorts its (5·(N−1)+1)-int
    * count tuples; round(4) absorbs ulp noise.
    *
    * Scale shape independent of order: every aux table is TYPE mass
    * (the k-gram type tables shrink as k falls), the model assembles at
    * top-order type mass, and the single token-mass join is the
    * occurrence stream against that model. Order only widens the tuple.
    */
  def ngramModKnNll(df: DataFrame, idCol: String, textCol: String,
                    order: Int = 3): DataFrame =
    mknNllFromModel(fitMknModel(df, textCol, order), df, idCol, textCol,
      order)

  /** G_k AND the level-k continuation counts from ONE suffix-keyed
    * aggregation over G_{k+1} — no token-mass pass, no extra exchange.
    *
    * Count identity: a document w_1..w_T has k-gram occurrences at
    * positions 1..T−k+1 and (k+1)-gram occurrences at 1..T−k; the
    * (k+1)-gram at position i has the k-gram at position i+1 as its
    * SUFFIX, so summing G_{k+1}'s counts over the first word covers
    * every k-gram occurrence except each document's FIRST one
    * (position 1, which no (k+1)-gram precedes). Hence
    * `c_k(g) = Σ_w c_{k+1}(w·g) + #{docs with T ≥ k whose first k
    * tokens are g}` — exact over integers, bit-identical to the
    * explode+groupBy it replaces (pinned by the derivation spec).
    *
    * The SUFFIX direction (not prefix) is what makes it free: the fit
    * already aggregates G_{k+1} by its last k words for the
    * continuation table N1+(·g) = #{w : c(w·g) > 0}, so the same
    * exchange yields both — `__cc` counts the real G_{k+1} rows per
    * group (`__t` = 1, boundary rows 0) while `__c` sums their counts
    * plus the doc-mass boundary stream. Output: `__w1..__wk` (the
    * suffix words, re-based to 1), `__c` = c_k, `__cc` = N1+(·g).
    *
    * `ws` must carry the tokenized corpus as `__ws`; `gHigher` the
    * (k+1)-gram type table keyed `__w1..__w{k+1}` with count `__c`.
    */
  private[text] def suffixTypeMerge(gHigher: DataFrame, ws: DataFrame,
                                    k: Int): DataFrame = {
    val fromHigher = gHigher.select(
      (1 to k).map(j => col(s"__w${j + 1}").as(s"__w$j")) :+
        col("__c") :+ lit(1L).as("__t"): _*)
    val boundary = ws.where(size(col("__ws")) >= k)
      .select((1 to k).map(j =>
        element_at(col("__ws"), j).as(s"__w$j")) :+
        lit(1L).as("__c") :+ lit(0L).as("__t"): _*)
    fromHigher.unionByName(boundary)
      .groupBy((1 to k).map(j => col(s"__w$j")): _*)
      .agg(sum(col("__c")).as("__c"), sum(col("__t")).as("__cc"))
  }

  /** FIT the order-N modified-KN model ONCE as a persistable table —
    * the fit-once/score-many split at the ladder's top, mirroring
    * [[fitKnModel]] for the interpolated-KN trigram: one row per
    * corpus top-order n-gram type carrying every integer the scorer
    * folds (top counts + history buckets, each middle level's
    * continuation/denominator/γ-bucket cells, the continuation
    * unigram) plus the 4·(N−1)+1 discount statistics and N1+(··) as
    * CONSTANT columns (RLE — they cost nothing in parquet and make the
    * model one self-contained table). COUNTS, not probabilities:
    * [[mknNllFromModel]] folds the identical IEEE expression tree from
    * the integers whether the model was just fit or read back from
    * disk, so serving is hash-identical to the one-shot
    * [[ngramModKnNll]].
    *
    * Scale shape: everything is TYPE mass; the token-mass streams
    * reduce map-side into the type tables and nothing corpus-sized
    * survives into the model.
    *
    * Materialization & cache hygiene: the k-gram type tables feed 2–6
    * consumers each (the top table alone feeds the model join, the
    * history buckets, the discount statistics, AND the level-(N−1)
    * continuation table), so each is persisted for the duration of the
    * fit — without the persist the token-mass explode + groupBy reruns
    * once per consumer, which measured as ~2/3 of the whole
    * fit-and-serve wall-clock at order 5. The fit is therefore EAGER:
    * the model materializes here (an eager localCheckpoint — see the
    * bridge note in the body), every intermediate cache (tokenization
    * included) is freed before returning, and the ONLY blocks that
    * outlive the call are the model's own (type-mass,
    * self-contained). A caller that writes the model to parquet and
    * is done with the in-memory copy frees them with
    * [[releaseModel]].
    */
  def fitMknModel(df: DataFrame, textCol: String,
                  order: Int = 3): DataFrame = {
    // order 3 is the floor: the bigram slot in the ladder is bigramNll's
    // Jelinek-Mercer form; an order-2 mKN would need token unigram
    // histories the type recursion below doesn't build
    require(order >= 3 && order <= 8, s"need 3 <= order <= 8, got $order")
    val n = order
    // WIDTH SIZED FROM THE MEASURED TOKEN MASS (the PageRank
    // small-regime idiom): the fit is ~35 small stages (N−1 type-table
    // levels, their continuation/bucket aggregations, the model joins,
    // the stats row), so on a small corpus a session-width fit pays
    // width × stage-count task latencies — and AQE's per-exchange
    // stage materialization — for shuffles of a few MB (measured: the
    // whole-stage graph, not the aggregation work, dominated the fit
    // at sf0.1). The fit is EAGER, so it can scope both safely: it
    // runs in a CHILD session (same SparkContext and cache, its own
    // SQLConf — the caller's conf is never mutated, concurrent queries
    // can't race) whose shuffle width is tokens/50k capped at the
    // session width; at production mass the cap leaves the session
    // width and AQE untouched. The tokenization is bridged via a
    // global temp view and persisted on the CHILD side so cache hits
    // are by object identity (the PageRank bridging rule).
    val sp = df.sparkSession
    val sp2 = sp.newSession()
    val tag = "graft_mkn_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    df.select(words(col(textCol)).as("__ws"))
      .createOrReplaceGlobalTempView(tag)
    val ws = sp2.table(s"global_temp.$tag").persist()
    val tokens = ws.agg(coalesce(sum(size(col("__ws"))), lit(0L)))
      .head().getLong(0) // one job: warms the ws cache AND measures
    val sessionP = sp.conf.get("spark.sql.shuffle.partitions").toInt
    val fitP = math.max(1L,
      math.min(sessionP.toLong, tokens / 50000L + 1L)).toInt
    sp2.conf.set("spark.sql.shuffle.partitions", fitP.toString)
    if (fitP < sessionP) sp2.conf.set("spark.sql.adaptive.enabled", "false")
    // the model-assembly joins are planned from REAL cached sizes (the
    // merged levels materialize eagerly below), so the broadcast
    // decision is finally sound — but the default 10 MB threshold was
    // tuned for ESTIMATES, and the aux tables' true in-memory sizes
    // sit just above it at small corpora (measured: losing the
    // broadcasts cost the bench trio ~45%). 64 MB is still far below
    // executor memory (guide §3: a few hundred MB broadcast is fine),
    // and at production mass the type tables exceed any threshold and
    // take the co-partitioned sort-merge path. Child-session scoped.
    sp2.conf.set("spark.sql.autoBroadcastJoinThreshold",
      (64L * 1024 * 1024).toString)

    // k-gram occurrence stream by positional transform (no self-joins)
    def grams(k: Int): DataFrame = {
      val g = ws.select(explode(transform(
          slice(col("__ws"), lit(1),
            greatest(size(col("__ws")) - (k - 1), lit(0))),
          (w, i) => struct(w.as("g1") +: (2 to k).map(j =>
            element_at(col("__ws"), i + j).as(s"g$j")): _*))).as("__g"))
      g.select((1 to k).map(j => col(s"__g.g$j").as(s"__w$j")): _*)
    }
    // G_N: the fit's ONE token-mass explode + groupBy. Every lower
    // level is then ONE suffix-keyed type-mass aggregation over
    // G_{k+1} ([[suffixTypeMerge]]) yielding BOTH G_k and the level-k
    // continuation counts — the aggregation the continuation table
    // below always ran, now also carrying the suffix sums plus the
    // doc-mass boundary stream (each doc's FIRST k tokens), so the
    // N−2 token-mass explode+groupBy passes and their exchanges
    // (≈Σ_{k<N} |G_k| partial-aggregated rows) disappear WITHOUT any
    // new exchange (guide §2 do-fewer-shuffles, §1.2 algorithm-first;
    // the prefix-direction derivation was measured and rejected — it
    // re-shuffles |G_{k+1}| per level, 38→95 MiB on the sf0.1
    // profile). Exact over integers — every count bit-identical to
    // the exploded form's (MknTypeTableDerivationSpec pins both
    // outputs against explode-built references). Each merged level
    // persists: it feeds G_k's consumers AND the continuation
    // consumers.
    // At order ≥ 4 the corpus-mass exchange is keyed by the HISTORY
    // (w1..w_{N-1}), not the full N-gram: HashPartitioning on a subset
    // of the grouping key satisfies the aggregation's distribution,
    // and (w1..w_{N-1}) is exactly the key of the model's hist join
    // AND the topBuckets aggregation — both then run WITHOUT an
    // exchange (hist = merged(N−1) is already hash(w1..w_{N-1})-
    // partitioned from its own groupBy at the same width, so the join
    // co-partitions). Cost: the raw gram stream shuffles un-partially-
    // aggregated — at order ≥ 4 on natural text type mass ≈ token
    // mass, so the penalty is small against dropping two type-mass
    // re-exchanges (measured at sf0.1: total fit shuffle 38→24 MiB).
    // At order 3 partial aggregation collapses the stream far below
    // type mass and the raw exchange would ship MORE (measured on the
    // trigram fit: 1.4→6.2 MiB) — keep the classic full-key exchange.
    val topGrams = grams(n)
    val topKeyed =
      if (n >= 4)
        topGrams.repartition(fitP, (1 until n).map(j => col(s"__w$j")): _*)
      else topGrams
    val topT = topKeyed
      .groupBy((1 to n).map(j => col(s"__w$j")): _*)
      .agg(count(lit(1)).as("__c")).persist() // c(w1..wN)
    val merged: Map[Int, DataFrame] =
      ((n - 1) to 2 by -1).foldLeft(Map.empty[Int, DataFrame]) {
        (acc, k) =>
          val higher = if (k == n - 1) topT else acc(k + 1)
          acc + (k -> suffixTypeMerge(higher, ws, k).persist())
      }
    // materialize the whole chain NOW with ONE count job (merged(2)
    // reads merged(3) reads … reads topT, so one pass fills every
    // cache): the model joins below are then planned from REAL cached
    // sizes instead of the lazy plan's estimates, which the boundary
    // stream (a second cached-ws consumer per level, compounding down
    // the chain) inflates past the broadcast threshold — left lazy,
    // every aux side of the model join lost its BroadcastHashJoin and
    // the assembly fell to a chain of model-mass exchanges (measured
    // on the sf0.1 profile: 38→98 MiB shuffled). With real sizes the
    // planner broadcasts exactly the tables that are genuinely small,
    // at any scale (threshold note at the session setup above).
    merged(2).count()
    // the G_k view of a merged level: keys + count — a projection
    // over the persisted merged table, never a recompute
    def gT(k: Int): DataFrame =
      if (k == n) topT
      else merged(k).select((1 to k).map(j => col(s"__w$j")) :+
        col("__c"): _*)

    val hist = gT(n - 1) // token history c(w1..w_{N-1})
      .withColumnRenamed("__c", "__ch")
    val topBuckets = topT
      .groupBy((1 until n).map(j => col(s"__w$j")): _*).agg(
        count(when(col("__c") === 1, 1)).as("__n1h"),
        count(when(col("__c") === 2, 1)).as("__n2h"),
        count(when(col("__c") >= 3, 1)).as("__n3h"))

    // level k (1 <= k < N): continuation table C_k keyed by the N-gram
    // POSITIONS it matches — G_{k+1}'s column j sits at merged column
    // j−1 and maps to position N-k-1+j. The counts come straight off
    // the merged level's __cc (no aggregation here anymore).
    def pos(k: Int, j: Int): String = s"__w${n - k - 1 + j}"
    // __cc > 0 drops the boundary-only groups (k-grams no (k+1)-gram
    // covers — G_k entries, but not continuation entries), making the
    // view EXACTLY the table the old aggregation built
    def contTable(k: Int): DataFrame = merged(k)
      .where(col("__cc") > 0)
      .select((2 to k + 1).map(j =>
        col(s"__w${j - 1}").as(pos(k, j))) :+
        col("__cc").as(s"__cc$k"): _*)
    // projections of the persisted merged levels (the den/bucket
    // aggregation and the model join both read the same cache)
    val contTables: Map[Int, DataFrame] =
      (2 until n).map(k => k -> contTable(k)).toMap
    // den + γ buckets + the exact-3/exact-4 cells the discount stats
    // need, in ONE aggregation over the continuation table: the
    // denominator c(w2..wk·) counts (w1, w_{k+1}) TYPE pairs, which is
    // exactly Σ over w_{k+1} of the continuation counts — so deriving
    // it here saves a separate full aggregation (and join) per level,
    // and the global count-of-counts below reduce to sums of these
    // per-context cells instead of re-aggregating the level
    def denBucketTable(k: Int): DataFrame = contTables(k)
      .groupBy((2 to k).map(j => col(pos(k, j))): _*).agg(
        sum(col(s"__cc$k")).as(s"__den$k"),
        count(when(col(s"__cc$k") === 1, 1)).as(s"__m${k}1"),
        count(when(col(s"__cc$k") === 2, 1)).as(s"__m${k}2"),
        count(when(col(s"__cc$k") >= 3, 1)).as(s"__m${k}3"),
        count(when(col(s"__cc$k") === 3, 1)).as(s"__m${k}3x"),
        count(when(col(s"__cc$k") === 4, 1)).as(s"__m${k}4x"))
    val denBuckets: Map[Int, DataFrame] =
      (2 until n).map(k => k -> denBucketTable(k).persist()).toMap

    val cc1 = gT(2).groupBy(col("__w2"))
      .agg(count(lit(1)).as("__cc1"))
      .withColumnRenamed("__w2", s"__w$n")

    // the 4·(N−1)+1 corpus integers: top count-of-counts, each middle
    // level's continuation count-of-counts, and N1+(··) — ONE tiny row
    // whose columns ride every model row as constants
    def coc(src: DataFrame, c: String, pfx: String): DataFrame = src.agg(
      count(when(col(c) === 1, 1)).as(s"${pfx}1"),
      count(when(col(c) === 2, 1)).as(s"${pfx}2"),
      count(when(col(c) === 3, 1)).as(s"${pfx}3"),
      count(when(col(c) === 4, 1)).as(s"${pfx}4"))
    val statsDf = ((n - 1) to 2 by -1)
      .foldLeft(coc(topT, "__c", s"__s$n")) { (acc, k) =>
        // middle-level count-of-counts = sums of the per-context cells
        // already aggregated in denBuckets (s_k,i = Σ_contexts m_k,i)
        acc.crossJoin(denBuckets(k).agg(
          coalesce(sum(s"__m${k}1"), lit(0L)).as(s"__s${k}1"),
          coalesce(sum(s"__m${k}2"), lit(0L)).as(s"__s${k}2"),
          coalesce(sum(s"__m${k}3x"), lit(0L)).as(s"__s${k}3"),
          coalesce(sum(s"__m${k}4x"), lit(0L)).as(s"__s${k}4")))
      }
      .crossJoin(gT(2).agg(count(lit(1)).as("__b")))

    // the model: every aux joined at TYPE mass onto the top-order table
    val model = ((n - 1) to 2 by -1).foldLeft(
      topT
        .join(hist, (1 until n).map(s"__w" + _))
        .join(topBuckets, (1 until n).map(s"__w" + _))) { (acc, k) =>
      acc
        .join(contTables(k), (2 to k + 1).map(pos(k, _)))
        .join(denBuckets(k).drop(s"__m${k}3x", s"__m${k}4x"),
          (2 to k).map(pos(k, _)))
    }.join(cc1, Seq(s"__w$n"))

    val withStats = model.crossJoin(broadcast(statsDf))
    try {
      // EAGER localCheckpoint (the PageRank bridge rule): the model
      // materializes once in the child session and its LogicalRDD is
      // identity-based — every caller-session consumer reads the
      // blocks directly, with no cache-manager plan matching to miss
      // and no lineage to recompute (a view-bridged persist measured
      // as a partial recompute per consumer). The blocks live until
      // [[releaseModel]] or GC-driven cleanup; like any checkpoint
      // they are executor-local, so a production run that must
      // survive executor loss should write the model to storage
      // (which the fit-once/score-many queries do anyway) and serve
      // from the file.
      val out = withStats.select(withStats.columns.toSeq
        .map(c => col(c).as(c.stripPrefix("__"))): _*).localCheckpoint()
      val outTag = tag + "_out"
      out.createOrReplaceGlobalTempView(outTag)
      val result = sp.table(s"global_temp.$outTag")
      result.queryExecution.assertAnalyzed()
      sp.catalog.dropGlobalTempView(outTag)
      result
    } finally {
      sp.catalog.dropGlobalTempView(tag)
      // loop-scoped caches release on BOTH paths — a failure mid-fit
      // must not pin the type tables for the session's lifetime
      // (contTables are projections of the merged levels, not caches)
      (Seq(topT) ++ merged.values ++ denBuckets.values)
        .foreach(_.unpersist(blocking = false))
      ws.unpersist(blocking = false)
    }
  }

  /** Free the checkpoint blocks behind a just-fit [[fitMknModel]]
    * result once the caller is done with the in-memory copy (e.g.
    * after writing it to parquet) — delegates to the shared
    * LogicalRDD-release helper. A parquet-reloaded model needs no
    * release (nothing is materialized).
    */
  def releaseModel(model: DataFrame): Unit =
    graft.operators.PageRank.release(model)

  /** Score documents from a persisted/reloaded [[fitMknModel]] table —
    * the served twin of [[ngramModKnNll]] (which IS this call over a
    * just-fit model). One token-mass join of the document top-order
    * n-gram stream against the model; per-doc fold order-pinned on the
    * integer tuple; the discount expressions evaluate from the model's
    * constant stat columns (surfaced per group via `first` — every row
    * carries the same corpus integers), so the result is bit-identical
    * whether the model came from the fit or from parquet. N-grams
    * absent from the model are SKIPPED — the documented serving
    * semantic shared with [[knNllFromModel]] (full backoff for unseen
    * n-grams is the ARPA consumers' path).
    */
  def mknNllFromModel(model: DataFrame, df: DataFrame, idCol: String,
                      textCol: String, order: Int = 3): DataFrame = {
    require(order >= 3 && order <= 8, s"need 3 <= order <= 8, got $order")
    val n = order
    (1 to n).foreach(j => require(model.columns.contains(s"w$j"),
      s"model lacks column w$j — was it fit at order $order?"))
    require(!model.columns.contains(s"w${n + 1}"),
      s"model carries w${n + 1} — it was fit at a HIGHER order than " +
        s"$order, and joining on a prefix would score each n-gram once " +
        "per continuation")
    // the model feeds two consumers (the one-row stats view and the
    // token-mass join) — NO cache here: a parquet-backed model costs
    // one column-pruned limit(1) scan plus one join scan, and a
    // just-fit model is already persisted by [[fitMknModel]] (which is
    // eager and frees its own intermediates). This call adds no cache
    // of its own, so repeated scoring in a long session accumulates
    // nothing.
    val m = model.select(model.columns.toSeq
      .map(c => col(c).as("__" + c)): _*)
    val ws = df.select(col(idCol), words(col(textCol)).as("__ws"))
    val topStream = ws.select(col(idCol), explode(transform(
        slice(col("__ws"), lit(1),
          greatest(size(col("__ws")) - (n - 1), lit(0))),
        (w, i) => struct(w.as("g1") +: (2 to n).map(j =>
          element_at(col("__ws"), i + j).as(s"g$j")): _*))).as("__g"))
      .select(col(idCol) +:
        (1 to n).map(j => col(s"__g.g$j").as(s"__w$j")): _*)

    // per-level discount COLUMNS over the (constant) stat columns
    def discountCols(k: Int): (Column, Column, Column) = {
      val s1 = col(s"__s${k}1"); val s2 = col(s"__s${k}2")
      val s3 = col(s"__s${k}3"); val s4 = col(s"__s${k}4")
      val ok = s1 > 0 && s2 > 0 && s3 > 0 && s4 > 0
      val y = when(s1 > 0, s1 / (s1 + lit(2L) * s2)).otherwise(lit(0.0))
      val r1 = when(ok, lit(1.0) - lit(2.0) * y * s2 / s1).otherwise(lit(0.75))
      val r2 = when(ok, lit(2.0) - lit(3.0) * y * s3 / s2).otherwise(lit(0.75))
      val r3 = when(ok, lit(3.0) - lit(4.0) * y * s4 / s3).otherwise(lit(0.75))
      val sound = ok && r1 >= 0.0 && r1 <= 1.0 &&
        r2 >= 0.0 && r2 <= 2.0 && r3 >= 0.0 && r3 <= 3.0
      (when(sound, r1).otherwise(lit(0.75)),
        when(sound, r2).otherwise(lit(0.75)),
        when(sound, r3).otherwise(lit(0.75)))
    }
    val dsc: Map[Int, (Column, Column, Column)] =
      (n to 2 by -1).map(k => k -> discountCols(k)).toMap
    def disc(c: Column, t: (Column, Column, Column)): Column =
      when(c === 1, t._1).when(c === 2, t._2).otherwise(t._3)

    // tuple fields in the FOLD-SORT order the oracle replays: top
    // (c, ch, n1h..n3h), then each middle level's (cc, den, m1..m3)
    // descending, unigram cc1 last
    val tupleCols: Seq[Column] =
      Seq(col("__c"), col("__ch"), col("__n1h"), col("__n2h"),
        col("__n3h")) ++
        ((n - 1) to 2 by -1).flatMap(k => Seq(col(s"__cc$k"),
          col(s"__den$k"), col(s"__m${k}1"), col(s"__m${k}2"),
          col(s"__m${k}3"))) :+
        col("__cc1")
    val statNames: Seq[String] =
      (n to 2 by -1).flatMap(k => (1 to 4).map(i => s"__s$k$i")) :+ "__b"

    // the constant stat columns must NOT ride the token-mass join
    // (they would widen every scored n-gram row by 17 longs); strip
    // them off the join side and bring ONE row back onto the per-doc
    // aggregate — every model row carries identical values, so limit(1)
    // is deterministic
    val statsRow = broadcast(
      m.select(statNames.map(col): _*).limit(1))
    // BROADCAST the model side explicitly: it is TYPE mass (bounded by
    // vocabulary, not corpus) at every scale, but a parquet-reloaded
    // model's size estimate routinely exceeds the auto-broadcast
    // threshold, and the silent fallback is a sort-merge join that
    // shuffles the corpus n-gram STREAM on 5 string keys — measured at
    // ~2x the whole serve leg at sf0.1 (BENCHNOTES r19). Results are
    // bit-identical (join strategy only).
    val mCore = broadcast(m.drop(statNames: _*))
    val scored = topStream
      .join(mCore, (1 to n).map(s"__w" + _)) // the one token-mass join
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sort_array(collect_list(struct(tupleCols: _*))).as("__ts"))
      .crossJoin(statsRow)
      .select(col(idCol), col("n_ngrams"),
        round(-aggregate(col("__ts"), lit(0.0), (a, x) => {
          val puni = x.getField("__cc1") / col("__b")
          val pTop = (2 to n - 1).foldLeft(puni) { (lower, k) =>
            val e = dsc(k)
            (x.getField(s"__cc$k") - disc(x.getField(s"__cc$k"), e)) /
              x.getField(s"__den$k") +
              (e._1 * x.getField(s"__m${k}1") +
                e._2 * x.getField(s"__m${k}2") +
                e._3 * x.getField(s"__m${k}3")) /
                x.getField(s"__den$k") * lower
          }
          val d = dsc(n)
          a + log(
            (x.getField("__c") - disc(x.getField("__c"), d)) /
              x.getField("__ch") +
              (d._1 * x.getField("__n1h") + d._2 * x.getField("__n2h") +
                d._3 * x.getField("__n3h")) / x.getField("__ch") * pTop)
        }) / col("n_ngrams"), 4).as("nll"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"), col("nll"))
  }

  /** [[nllBuckets]] ranked by the KNESER-NEY trigram scorer instead of
    * the unigram proxy — the closest in-repo analog of CCNet's actual
    * KenLM tiering (Wenzek 2020 rank by 5-gram-KN perplexity): same
    * per-language ntile tiers, score = [[trigramKnNll]]. Documents too
    * short to score (< 3 words, null nll) sort LAST within their
    * language (id tiebreak) and land in the tail tier — the
    * conservative choice for unscoreable text. Same one-window-pass
    * scale shape as [[nllBuckets]].
    */
  def knBuckets(df: DataFrame, idCol: String, textCol: String,
                langCol: String, buckets: Int = 3,
                discount: Double = 0.75): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    val scored = trigramKnNll(df, idCol, textCol, discount)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol))
      .orderBy(col("nll").asc_nulls_last, col(idCol))
    scored.join(df.select(col(idCol), col(langCol)), Seq(idCol))
      .withColumn("bucket", ntile(buckets).over(w))
      .select(col(idCol), col(langCol), col("n_trigrams"), col("nll"),
        col("bucket").cast("long").as("bucket"))
  }

  /** The WINDOW-FREE tier pass over ANY scored frame — the scale core
    * shared by [[nllBucketsApprox]] and [[knBucketsApprox]]: tier
    * boundaries come from a per-language `percentile_approx` sketch
    * (map-side partial aggregation — no per-language window task, so a
    * language holding most of a 100 TB corpus cannot serialize the
    * pass) and rows bucket by comparing against the broadcast
    * boundaries. Tier sizes are approximate at the boundary (sketch
    * accuracy), which is exactly how CCNet computes its tiers; the
    * exact-ntile forms remain for oracle-exact verification at test
    * scale. NULL scores (documents too short for the scorer) land in
    * the LAST tier — [[knBuckets]]'s conservative nulls-last rule.
    */
  def bucketsBySketch(scored: DataFrame, langCol: String,
                      scoreCol: String, buckets: Int = 3,
                      accuracy: Int = 10000): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val bounds = scored.groupBy(col(langCol)).agg(
      percentile_approx(col(scoreCol),
        array(probs.map(lit): _*), lit(accuracy)).as("__bnd"))
    scored.join(broadcast(bounds), Seq(langCol))
      .withColumn("bucket",
        when(col(scoreCol).isNull, lit(buckets.toLong)).otherwise(
          lit(1L) + aggregate(col("__bnd"), lit(0L),
            (acc, b) => acc + when(col(scoreCol) > b, 1L).otherwise(0L))))
      .drop("__bnd")
  }

  /** [[nllBuckets]]'s scale path — [[bucketsBySketch]] over the unigram
    * score.
    */
  def nllBucketsApprox(df: DataFrame, idCol: String, textCol: String,
                       langCol: String, buckets: Int = 3,
                       accuracy: Int = 10000,
                       vocabOf: Option[DataFrame] = None): DataFrame = {
    val scored = unigramNll(df, idCol, textCol, vocabOf)
      .join(df.select(col(idCol), col(langCol)), Seq(idCol))
    bucketsBySketch(scored, langCol, "nll", buckets, accuracy)
      .select(col(idCol), col(langCol), col("n_words"), col("nll"),
        col("bucket"))
  }

  /** [[knBuckets]]'s scale path — [[bucketsBySketch]] over the KN
    * trigram score, so the CCNet-style KN tier pass has a window-free
    * form too (the exact ntile serializes each language onto one task;
    * the sketch keeps a hot language fully parallel).
    */
  def knBucketsApprox(df: DataFrame, idCol: String, textCol: String,
                      langCol: String, buckets: Int = 3,
                      discount: Double = 0.75,
                      accuracy: Int = 10000): DataFrame = {
    val scored = trigramKnNll(df, idCol, textCol, discount)
      .join(df.select(col(idCol), col(langCol)), Seq(idCol))
    bucketsBySketch(scored, langCol, "nll", buckets, accuracy)
      .select(col(idCol), col(langCol), col("n_trigrams"), col("nll"),
        col("bucket"))
  }

  /** Inverted index over the corpus: one row per surviving word with
    * its document frequency and the full postings list
    * `(id, tf)` sorted by id — the classic IR structure, and the fast
    * path for corpus search / targeted decontamination probes. Words
    * appearing in more than `maxDfFrac` of all documents are DROPPED
    * (the standard stopword cut): their postings carry no selectivity,
    * and at corpus scale a posting spanning half the documents is the
    * one row that cannot be materialized. Postings are rendered as a
    * canonical `id:tf` comma-string so the structure is engine-portable
    * ([[invertedIndexStructured]] keeps the typed form for consumers
    * like [[bm25SearchIndexed]]).
    *
    * Scale shape — the cut happens BEFORE any postings row exists: one
    * explode feeds the `(word, id)` term-frequency aggregation
    * (map-side partials); a df-ONLY aggregation (count-sized rows, no
    * lists) plus a broadcast one-row total decides the survivor set; a
    * left-semi join drops every stopword's `(word, id, tf)` triples at
    * the join, so the postings `collect_list` only ever sees words
    * already under the cut — a corpus-wide stopword never lands its ~N
    * postings in one reducer. `df` falls out of the postings
    * aggregation itself (one triple per posting), so the survivor set
    * is word-only.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    maxDfFrac: Double = 0.5): DataFrame =
    invertedIndexStructured(df, idCol, textCol, maxDfFrac)
      .select(col("word"), col("df"),
        array_join(transform(col("postings"),
          p => concat_ws(":", p.getField("id").cast("string"),
            p.getField("tf").cast("string"))), ",")
          .as("postings"))

  /** [[invertedIndex]] with the postings kept typed:
    * `(word, df, postings: array<struct<id, tf>>)` sorted by id — the
    * form downstream consumers ([[bm25SearchIndexed]]) read without
    * re-parsing. Same plan shape (df-only cut, then semi-join, then
    * postings aggregation).
    */
  def invertedIndexStructured(df: DataFrame, idCol: String, textCol: String,
                              maxDfFrac: Double = 0.5): DataFrame = {
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"need 0 < maxDfFrac <= 1, got $maxDfFrac")
    val total = df.agg(countDistinct(col(idCol)).as("__nd"))
    val tf = df.select(col(idCol), explode(words(col(textCol))).as("word"))
      .groupBy(col("word"), col(idCol)).agg(count(lit(1)).as("__tf"))
    // count-only df pass: 8-byte aggregation rows with map-side
    // partials — safe for any stopword — then the broadcast cut
    val survivors = tf.groupBy(col("word")).agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(total))
      .filter(col("__df") <= col("__nd") * lit(maxDfFrac))
      .select(col("word"))
    tf.join(survivors, Seq("word"), "left_semi")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("df"),
        array_sort(collect_list(
          struct(col(idCol).as("id"), col("__tf").as("tf")))).as("postings"))
      .select(col("word"), col("df"), col("postings"))
  }

  /** Top-`k` tf-idf keywords per document:
    * `score = tf · ln((N+1)/(df+1))`, ranked per document with the
    * engine-portable tie-break (score rounded to 4 — absorbing ln ulp
    * noise — descending, then word ascending). The per-document
    * summarization primitive (routing, labeling, cheap topicality).
    *
    * Scale shape: the same explode + `(word, id)` aggregation as
    * [[invertedIndex]], a word-keyed join against the (small,
    * df-filtered) dictionary, and a per-document window — documents are
    * small groups, so the window never serializes a partition the way a
    * per-corpus one would.
    */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, maxDfFrac: Double = 0.5): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"need 0 < maxDfFrac <= 1, got $maxDfFrac")
    val total = df.agg(countDistinct(col(idCol)).as("__nd"))
    val tf = df.select(col(idCol), explode(words(col(textCol))).as("word"))
      .groupBy(col("word"), col(idCol)).agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(total))
      .filter(col("__df") <= col("__nd") * lit(maxDfFrac))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("word"))
    tf.join(dfreq, Seq("word"))
      .select(col(idCol), col("word"), col("__tf").as("tf"), col("__df").as("df"),
        round(col("__tf") *
          log((col("__nd") + lit(1L)) / (col("__df") + lit(1L))), 4)
          .as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("long").as("rank"),
        col("word"), col("tf"), col("df"), col("score"))
  }

  /** BM25 ranked retrieval (Robertson/Sparck Jones, the standard
    * probabilistic ranking function): scores every document against a
    * bag-of-words `query` and returns the top `k`:
    *
    *   score(d) = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) ·
    *              tf_td / (tf_td + k1·(1 − b + b·dl_d/avgdl))
    *
    * Determinism: each document's per-term triples `(term, tf, df)`
    * sort before the float fold (term order — identical in any
    * engine); `avgdl` is the same two-long division on both sides;
    * round(4) absorbs ln ulp; the k-cut orders by rounded score then
    * id.
    *
    * Scale shape: the corpus scan filters to query terms at scan speed
    * (an `isin` over a handful of literals — codegen, pushdown-
    * friendly); everything downstream aggregates rows that MATCHED a
    * query term. The per-term df table is a |query|-row broadcast; the
    * final top-k is `TakeOrderedAndProject` (per-partition heads, no
    * global sort). Document text never shuffles.
    */
  def bm25Search(df: DataFrame, idCol: String, textCol: String,
                 query: Seq[String], k: Int = 20,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25Search needs at least one query term")
    require(k >= 1, s"need k >= 1, got $k")
    val terms = query.map(_.toLowerCase).distinct
    val ws = words(col(textCol))
    val base = df.select(col(idCol), size(ws).cast("long").as("__dl"))
    val stats = base.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sdl"))
    val tf = df.select(col(idCol), explode(ws).as("word"))
      .filter(col("word").isin(terms: _*))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("__tf"))
    val dfq = tf.groupBy(col("word")).agg(count(lit(1)).as("__df"))
    tf.join(broadcast(dfq), Seq("word"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(
        struct(col("word"), col("__tf"), col("__df")))).as("__ts"))
      .join(base, Seq(idCol))
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("__dl").as("dl"),
        round(aggregate(col("__ts"), lit(0.0), (a, x) => {
          val tfd = x.getField("__tf")
          val dft = x.getField("__df")
          val idf = log(lit(1.0) +
            (col("__n") - dft + lit(0.5)) / (dft + lit(0.5)))
          val denom = tfd + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * (col("__dl") / (col("__sdl") / col("__n"))))
          a + idf * (tfd / denom)
        }), 4).as("score"))
      .orderBy(col("score").desc, col(idCol)).limit(k)
  }

  /** Per-document token lengths `(id, dl)` — the second half of the
    * persisted retrieval structure next to [[invertedIndexStructured]]:
    * build both once, then serve queries from them with
    * [[bm25SearchIndexed]] without ever re-reading document text.
    */
  def docLengths(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), size(words(col(textCol))).cast("long").as("dl"))

  /** [[bm25Search]] served from a prebuilt index instead of raw text:
    * `index` is [[invertedIndexStructured]] output, `docLens` is
    * [[docLengths]] output. Identical scoring (same fold, same
    * sort-before-fold determinism, same round(4)/id tie-break), so the
    * ranking matches the from-scratch scan exactly — PROVIDED every
    * query term survived the index's `maxDfFrac` stopword cut; a term
    * missing from the index (cut, or unseen in the corpus) contributes
    * nothing, which for a cut term is usually the ranking you wanted
    * anyway.
    *
    * Scale shape — this is why the index exists: the only touch of
    * anything corpus-sized is the `word.isin` filter over the index
    * (|vocab| rows, codegen) and one join of the exploded postings
    * (Σ df over query terms rows — small for selective terms) against
    * the `(id, dl)` table, which AQE broadcasts from the postings side.
    * Document text is never read, never tokenized, never shuffled.
    */
  def bm25SearchIndexed(index: DataFrame, docLens: DataFrame, idCol: String,
                        query: Seq[String], k: Int = 20,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25SearchIndexed needs at least one query term")
    require(k >= 1, s"need k >= 1, got $k")
    val terms = query.map(_.toLowerCase).distinct
    val stats = docLens.agg(count(lit(1)).as("__n"),
      sum(col("dl")).as("__sdl"))
    val hits = index.filter(col("word").isin(terms: _*))
      .select(col("word"), col("df").as("__df"),
        explode(col("postings")).as("__p"))
      .select(col("__p.id").as(idCol), col("word"),
        col("__p.tf").as("__tf"), col("__df"))
    hits.groupBy(col(idCol))
      .agg(sort_array(collect_list(
        struct(col("word"), col("__tf"), col("__df")))).as("__ts"))
      .join(docLens, Seq(idCol))
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("dl"),
        round(aggregate(col("__ts"), lit(0.0), (a, x) => {
          val tfd = x.getField("__tf")
          val dft = x.getField("__df")
          val idf = log(lit(1.0) +
            (col("__n") - dft + lit(0.5)) / (dft + lit(0.5)))
          val denom = tfd + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * (col("dl") / (col("__sdl") / col("__n"))))
          a + idf * (tfd / denom)
        }), 4).as("score"))
      .orderBy(col("score").desc, col(idCol)).limit(k)
  }

  /** BATCH BM25: score MANY queries in one job — `queries` is a
    * DataFrame of `(qid, terms: array<string>)` and the result carries
    * the top `k` docs per query with their rank. Scoring is identical
    * to [[bm25Search]] (per-term idf over the full-corpus df of each
    * term, the same sorted fold and round(4)/id determinism), so each
    * query's ranking equals its own single-query run.
    *
    * Scale shape — this is the retrieval WORKLOAD form: the corpus is
    * scanned and tokenized ONCE for all Q queries (a broadcast
    * semi-join against the union of query terms replaces Q separate
    * scans); the (qid → term) map and the per-term df table are
    * broadcast (|terms| rows); per-query candidates aggregate on
    * `(qid, id)`; and the per-query k-cut is a rank window that Spark
    * lowers to WindowGroupLimit — per-partition top-k pruning, no
    * full-group sort materialization. Document text never shuffles.
    */
  def bm25SearchAll(df: DataFrame, idCol: String, textCol: String,
                    queries: DataFrame, qidCol: String, termsCol: String,
                    k: Int = 20, k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val qterms = queries
      .select(col(qidCol), explode(col(termsCol)).as("word"))
      .select(col(qidCol), lower(col("word")).as("word")).distinct()
    val terms = qterms.select("word").distinct()
    val ws = words(col(textCol))
    val base = df.select(col(idCol), size(ws).cast("long").as("__dl"))
    val stats = base.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sdl"))
    val tf = df.select(col(idCol), explode(ws).as("word"))
      .join(broadcast(terms), Seq("word"), "left_semi")
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("__tf"))
    val dfq = tf.groupBy(col("word")).agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("score").desc, col(idCol))
    tf.join(broadcast(dfq), Seq("word"))
      .join(broadcast(qterms), Seq("word"))
      .groupBy(col(qidCol), col(idCol))
      .agg(sort_array(collect_list(
        struct(col("word"), col("__tf"), col("__df")))).as("__ts"))
      .join(base, Seq(idCol))
      .crossJoin(broadcast(stats))
      .select(col(qidCol), col(idCol), col("__dl").as("dl"),
        round(aggregate(col("__ts"), lit(0.0), (a, x) => {
          val tfd = x.getField("__tf")
          val dft = x.getField("__df")
          val idf = log(lit(1.0) +
            (col("__n") - dft + lit(0.5)) / (dft + lit(0.5)))
          val denom = tfd + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * (col("__dl") / (col("__sdl") / col("__n"))))
          a + idf * (tfd / denom)
        }), 4).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("rank").cast("long").as("rank"),
        col(idCol), col("dl"), col("score"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): each raw document
    * scored by `log p_target(doc) − log p_raw(doc)` under add-one-
    * smoothed unigram LMs fit on a TARGET (domain) corpus and the raw
    * corpus itself — the published recipe for selecting pretraining
    * data that matches a target distribution. High weight = looks like
    * the target; feed the weights into [[graft.operators.Sampling]]'s
    * weighted/temperature samplers for the resampling half.
    *
    * Smoothing uses the JOINT vocabulary (V = |words(raw) ∪
    * words(target)|), so both distributions normalize over the same
    * support:
    *
    *   w(d) = Σ_w ln(c_t(w)+1) − Σ_w ln(c_r(w)+1)
    *        + n_words · (ln(T_r+V) − ln(T_t+V))
    *
    * Determinism: the two float folds are order-pinned independently
    * (each count list sorted, then summed in array order — the
    * [[unigramNll]] convention), and engine ulp noise is absorbed by
    * round(4).
    *
    * Scale shape: two wordcount aggregations (map-side partials), a
    * full-outer vocab join, one explode + word join + per-doc
    * aggregation; the (T_r, T_t, V) totals are one broadcast row. The
    * target corpus is typically small (a domain sample), the raw corpus
    * never collects anywhere.
    */
  def dsirWeights(raw: DataFrame, idCol: String, textCol: String,
                  target: DataFrame, targetTextCol: String): DataFrame = {
    val vr = vocabulary(raw, textCol).withColumnRenamed("n", "__cr")
    val vt = vocabulary(target, targetTextCol).withColumnRenamed("n", "__ct")
    val joint = vr.join(vt, Seq("word"), "full")
      .select(col("word"),
        coalesce(col("__cr"), lit(0L)).as("__cr"),
        coalesce(col("__ct"), lit(0L)).as("__ct"))
    val totals = joint.agg(sum(col("__cr")).as("__tr"),
      sum(col("__ct")).as("__tt"), count(lit(1)).as("__v"))
    val toks = raw.select(col(idCol), explode(words(col(textCol))).as("word"))
    toks.join(joint, Seq("word"), "left")
      .select(col(idCol),
        coalesce(col("__ct"), lit(0L)).as("__dt"),
        coalesce(col("__cr"), lit(0L)).as("__dr"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sort_array(collect_list(col("__dt"))).as("__cts"),
        sort_array(collect_list(col("__dr"))).as("__crs"))
      .crossJoin(broadcast(totals))
      .select(col(idCol), col("n_words"),
        // + 0.0 normalizes IEEE -0.0 to +0.0: a weight rounding to zero
        // from below must stringify/hash identically in every engine
        // (DuckDB's round keeps the sign, BigDecimal drops it)
        (round(
          aggregate(col("__cts"), lit(0.0), (a, c) => a + log(c + lit(1))) -
            aggregate(col("__crs"), lit(0.0), (a, c) => a + log(c + lit(1))) +
            col("n_words") *
              (log(col("__tr") + col("__v")) - log(col("__tt") + col("__v"))),
          4) + lit(0.0)).as("dsir_weight"))
  }
}