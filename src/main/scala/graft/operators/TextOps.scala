package graft.operators

import graft.CacheScope
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Grain.{Answer, Corpus}
import graft.Query
import graft.Tables

/** Text analysis for LLM training-data pipelines: token counting, quality
  * scoring, language ID, content fingerprinting, exact dedup.
  *
  * These extend the reference's ETL surface (the brief mandates them beyond
  * `/root/reference`): the reference's ETL bundle cleans CRM-ish records
  * (packages/app/bundles/custom/models/ETL.ts); a 100 TB document pipeline
  * needs the same shapes — projection, hash-agg — applied to text.
  *
  * Everything here is pure whole-stage-codegen projection or a single hash
  * aggregation: zero shuffles for the per-document scores, one shuffle for
  * the dedup group-by. No UDFs — `split`/`filter`/`regexp_*`/`md5` are all
  * codegen'd built-ins, and every hash is md5 so the DuckDB oracle can
  * recompute signatures bit-for-bit.
  */
object TextOps {

  /** Whitespace tokens of a trimmed text column. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Count of tokens matching any of `words` (stopword hits). */
  def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  val stopEn: Seq[String] = Seq("the", "a", "of", "to", "in", "and", "is")
  val stopEs: Seq[String] = Seq("el", "la", "de", "y", "que", "los")
  val stopFr: Seq[String] = Seq("le", "la", "de", "et", "les", "des")

  /** BPE-ish tokenisation: word runs + each punctuation mark separately. */
  val bpePattern = "[a-z0-9]+|[^a-z0-9\\s]"

  /** Whitespace + regex token counts per document. */
  def tokenCount(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens", size(tokens(col(textCol))).cast("bigint"))
      .withColumn("re_tokens",
        size(regexp_extract_all(lower(col(textCol)), lit(bpePattern), lit(0))).cast("bigint"))

  /** Quality signals: char/token counts, alpha & punct ratios, stopword
    * ratio, and a deterministic composite score. All single-pass projection.
    */
  def quality(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val len = length(t)
    val alpha = length(regexp_replace(t, "[^a-zA-Z]", ""))
    val punct = length(regexp_replace(t, "[a-zA-Z0-9\\s]", ""))
    val nTok = size(toks)
    val stops = hitCount(toks, stopEn)
    // int-ratio rounding via Stable: round(double) diverges across engines
    // at exact decimal halves, and int/int ratios hit those routinely.
    // The composite score combines the ROUNDED ratios (all multiples of
    // 1e-4, so its own final rounding can't sit on a half-boundary).
    val alphaR = Stable.ratioRounded(alpha, len, 4)
    val punctR = Stable.ratioRounded(punct, len, 4)
    val stopR = Stable.ratioRounded(stops, nTok, 4)
    df.withColumn("n_chars_m", len.cast("bigint"))
      .withColumn("n_tokens", nTok.cast("bigint"))
      .withColumn("alpha_ratio", alphaR)
      .withColumn("punct_ratio", punctR)
      .withColumn("stop_ratio", stopR)
      .withColumn("quality_score",
        round(alphaR - punctR + least(stopR * 2, lit(0.5)), 4))
  }

  /** QUALITY-ANNEALED epoch mixing — the "midtraining anneal" schedule
    * every modern LLM run ends on: early epochs see the whole corpus,
    * late epochs progressively drop low-quality bands so the final
    * tokens skew high-quality (the data-side cousin of LR annealing).
    * Mechanics: the [[classifierFilter]] logit (one codegen projection,
    * bitwise-portable fold) banded by FIXED thresholds (corpus-
    * independent, so banding is a map — no quantile pass, no shuffle);
    * the epoch schedule is a literal table exploded per doc; inclusion
    * is a stateless md5 draw on (doc, epoch) — the [[Dedup]] mix-family
    * contract: deterministic, rerun-stable, zero corpus shuffle, linear
    * in corpus × epochs. At 100 TB this whole operator is one filtered
    * projection pass per epoch.
    *
    * `schedule`: (epoch, keepLow, keepMid, keepHigh) rows.
    */
  def mixAnneal(df: DataFrame, id: String, textCol: String,
                wAlpha: Double, wPunct: Double, wStop: Double,
                wLen: Double, intercept: Double,
                bandLo: Double, bandHi: Double,
                schedule: Seq[(Long, Double, Double, Double)]): DataFrame = {
    val feats = quality(df.select(col(id), col(textCol)), textCol)
    val logit = lit(intercept) +
      lit(wAlpha) * col("alpha_ratio") +
      lit(wPunct) * col("punct_ratio") +
      lit(wStop) * col("stop_ratio") +
      lit(wLen) * least(col("n_tokens").cast("double") / 100.0, lit(1.0))
    val banded = feats.withColumn("logit", logit)
      .withColumn("band",
        when(col("logit") >= bandHi, lit("high"))
          .when(col("logit") >= bandLo, lit("mid"))
          .otherwise(lit("low")))
    val sched = explode(array(schedule.map { case (e, l, m, h) =>
      struct(lit(e).as("epoch"), lit(l).as("r_low"), lit(m).as("r_mid"),
        lit(h).as("r_high"))
    }: _*)).as("_ep")
    val draw = conv(substring(md5(concat(col(id).cast("string"), lit(":"),
      col("epoch").cast("string")).cast("binary")), 1, 4), 16, 10).cast("long")
    banded.select(col(id), col("band"), col("logit"), sched)
      .select(col(id), col("band"), col("logit"),
        col("_ep.epoch").as("epoch"),
        when(col("band") === "high", col("_ep.r_high"))
          .when(col("band") === "mid", col("_ep.r_mid"))
          .otherwise(col("_ep.r_low")).as("_rate"))
      .filter(draw < col("_rate") * 65536)
      .select(col(id), col("epoch"), col("band"), col("logit"))
  }

  /** n-gram-free language ID: stopword hit votes per language, argmax with
    * deterministic tie order (en > es > fr), 'und' when no list hits.
    */
  /** Label-aligned language fixture for the langid audit: per doc_id a
    * true lang (doc_id%4 → en/es/fr/und) and a text of 1 + doc_id%3
    * stopwords UNAMBIGUOUS to that language ("la"/"de" sit in both the
    * es and fr lists and are deliberately avoided), two non-stopword
    * noise tokens, and — for doc_id%5==0 — ONE contaminating stopword
    * chosen so the k==1 classes flip on the tie rules (es→en because
    * the en branch wins ties, fr→es because es≥fr, und→en) while k≥2
    * classes stay diagonal. Everything derives from doc_id arithmetic
    * so the DuckDB oracle replays the fixture AND the classifier. */
  def synthesizeLangDocs(df: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol).cast("bigint")
    val m4 = pmod(id, lit(4))
    val m3 = pmod(id, lit(3))
    val lang = when(m4 === 0, "en").when(m4 === 1, "es")
      .when(m4 === 2, "fr").otherwise("und")
    def pick(w: Seq[String]): Column =
      when(m3 === 0, w(0)).when(m3 === 1, s"${w(0)} ${w(1)}")
        .otherwise(s"${w(0)} ${w(1)} ${w(2)}")
    val base = when(m4 === 0, pick(Seq("the", "and", "of")))
      .when(m4 === 1, pick(Seq("el", "que", "los")))
      .when(m4 === 2, pick(Seq("le", "et", "les")))
      .otherwise("")
    val noise = concat(lit(" tok"), pmod(id, lit(7)).cast("string"),
      lit(" zz"), pmod(id, lit(11)).cast("string"))
    val cont = when(pmod(id, lit(5)) === 0,
        when(m4 === 0, " el").when(m4 === 1, " the")
          .when(m4 === 2, " el").otherwise(" the"))
      .otherwise("")
    df.select(id.as("doc_id"), lang.as("lang"),
      trim(concat(base, noise, cont)).as("text"))
  }

  def langId(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val en = hitCount(toks, stopEn)
    val es = hitCount(toks, stopEs)
    val fr = hitCount(toks, stopFr)
    df.withColumn("en_hits", en.cast("bigint"))
      .withColumn("es_hits", es.cast("bigint"))
      .withColumn("fr_hits", fr.cast("bigint"))
      .withColumn("lang_pred",
        when(en === 0 && es === 0 && fr === 0, "und")
          .when(en >= es && en >= fr, "en")
          .when(es >= fr, "es")
          .otherwise("fr"))
  }

  /** Corpus composition report: the curator's first query against a raw
    * crawl — per (predicted language, source): doc count, total
    * whitespace tokens, mean quality score, and how many docs survive a
    * token-count gate. Derives everything from the single-pass [[quality]]
    * + [[langId]] projections, so the whole report is one scan + one hash
    * aggregate whose output is #langs × #sources rows regardless of input
    * size — at 100 TB the map-side partial agg collapses each partition
    * to a handful of rows before the (tiny) exchange.
    */
  def corpusReport(df: DataFrame, textCol: String, sourceCol: String,
                   minTokens: Long): DataFrame =
    quality(langId(df, textCol), textCol)
      .groupBy(col("lang_pred"), col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        Stable.avgRounded(col("quality_score"), count(lit(1)), 4).as("avg_quality"),
        sum(when(col("n_tokens") >= minTokens, 1L).otherwise(0L)).as("n_gate_pass"))

  /** Per-document repetition signals (the Gopher/C4-family quality gates):
    * duplicate word-n-gram fractions — the share of n-gram slots occupied
    * by a repeat of an earlier n-gram in the same document. Templated /
    * machine-looped text scores high, natural prose low. The duplicate-
    * FRACTION family needs only cardinalities (total slots vs distinct
    * grams), which the native distinct-n-gram kernel gives in one pass —
    * so the whole operator is a zero-shuffle projection, no per-document
    * frequency table. Tokens follow WordNgrams' nonempty-runs contract.
    * Docs with no n-gram slots score 0.0 (nothing is repeated).
    */
  def repetition(df: DataFrame, textCol: String): DataFrame = {
    val nTok = size(filter(tokens(col(textCol)), t => t =!= ""))
    def dupFrac(n: Int): Column = {
      val total = greatest(nTok - (n - 1), lit(0))
      val distinctN = size(graft.functions.GraftFunctions.wordNgrams(col(textCol), n))
      when(total === 0, lit(0.0))
        .otherwise(Stable.ratioRounded(total - distinctN, total, 4))
    }
    df.withColumn("n_tokens", nTok.cast("bigint"))
      .withColumn("dup_2gram_frac", dupFrac(2))
      .withColumn("dup_3gram_frac", dupFrac(3))
  }

  /** Corpus n-gram document frequencies — the corpus statistic behind
    * tokenizer training and contamination analysis: in how many documents
    * does each word n-gram occur? Distinct-per-doc grams (native kernel,
    * so a doc repeating a gram counts it once) explode to rows; ONE hash
    * aggregate with map-side partial combine does the counting, and the
    * global top-k compiles to TakeOrderedAndProject (per-partition heaps —
    * no full sort of the gram table). At 100 TB the only shuffle is the
    * combined per-partition gram counts.
    */
  def ngramCounts(df: DataFrame, textCol: String, n: Int, topK: Int): DataFrame =
    df.select(explode(graft.functions.GraftFunctions.wordNgrams(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("gram").asc)
      .limit(topK)

  /** Overlapping token-window chunking — the RAG/context-window prep
    * operator: each document splits into chunks of `chunkTokens` tokens
    * advancing by `chunkTokens - overlap`, the last chunk truncated (every
    * token is covered; consecutive chunks share `overlap` tokens). All
    * doc-local: tokenization, chunk-count arithmetic and slicing happen in
    * one projection + explode — no shuffle, no join-back (a doc's chunks
    * are emitted where the doc is read). Chunk count: 0 for empty docs,
    * else ⌊max(n-overlap-1, 0)/step⌋ + 1 — the unique count where chunk i
    * starts at i·step and the final chunk still contributes ≥1 new token.
    */
  def tokenChunks(df: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val step = chunkTokens - overlap
    df.withColumn("_t", filter(tokens(col(textCol)), t => t =!= ""))
      // coalesce: size(NULL) is NULL, which would slip past the === 0
      // guard into the otherwise-branch (greatest absorbs the NULL) and
      // emit one garbage chunk for a NULL-text doc instead of zero
      .withColumn("_n", coalesce(size(col("_t")), lit(0)))
      .withColumn("_nc", when(col("_n") === 0, lit(0L))
        .otherwise(floor(greatest(col("_n") - overlap - 1, lit(0)) / lit(step)) + 1))
      // guard: Spark's sequence STEPS BACKWARDS for stop < start, so an
      // empty doc must map to an empty array, not sequence(0, -1) = [0,-1]
      .withColumn("chunk_id", explode(when(col("_nc") >= 1,
        sequence(lit(0L), col("_nc") - 1)).otherwise(array().cast("array<bigint>"))))
      .withColumn("_sl", slice(col("_t"),
        (col("chunk_id") * step + 1).cast("int"), lit(chunkTokens)))
      .select(col(idCol), col("chunk_id"),
        size(col("_sl")).cast("bigint").as("chunk_tokens"),
        array_join(col("_sl"), " ").as("chunk_text"))
  }

  /** The canonical content-fingerprint expression: md5 over the sorted
    * distinct token set — robust to token order and duplication, portable
    * to the oracle. Single definition shared by [[fingerprint]] and the
    * composed pipeline.
    */
  def fingerprintCol(c: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(lower(c)))), " "))

  def fingerprint(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fp", fingerprintCol(col(textCol)))

  /** Winnowing fingerprints (the rolling-hash scheme of MOSS): hash every
    * k-char gram, then keep the minimum of each w-wide window — a
    * position-robust fingerprint SET that survives local edits (any match
    * of length >= k+w-1 shares a fingerprint).
    *
    * Shape history — the operator that earned a native kernel twice over:
    * nested array `transform`s hit projection collapse (the k-gram hash
    * array inlined into every window lambda — O(n^2) per doc, one task
    * pinned 20+ min at sf0.1); the explode-positions → window-frame
    * rewrite was O(n·w) but shipped EVERY k-gram position of the corpus
    * through a shuffle on doc_id, for an operator whose semantics are
    * entirely doc-local. [[graft.functions.WinnowFingerprints]] computes
    * the whole fingerprint set per row (monotonic-deque minima, O(n)
    * amortised, grams hashed from the doc's byte array without per-gram
    * allocation): ZERO shuffle, no explode, no join-back for short docs —
    * the operator is a pure codegen'd projection, and docs shorter than
    * k+w-1 chars digest the empty set naturally.
    */
  def winnowFingerprint(df: DataFrame, idCol: String, textCol: String,
                        k: Int, w: Int): DataFrame =
    df.select(col(idCol), coalesce(
        graft.functions.GraftFunctions.winnowFingerprints(col(textCol), k, w),
        array().cast("array<bigint>")).as("_fps"))
      .select(col(idCol),
        md5(array_join(transform(col("_fps"), x => x.cast("string")), ",")).as("doc_fp"),
        size(col("_fps")).cast("bigint").as("n_fps"))

  /** md5 of the empty string (the empty fingerprint set's digest). */
  val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"

  /** TF-IDF top terms per document — the corpus-statistics shape: a global
    * document-frequency pass feeds a per-document scoring pass. Term
    * frequencies are one hash-agg on (doc, term); document frequencies one
    * hash-agg on term over the distinct pairs (vocabulary-sized — the join
    * back is broadcast-able at any corpus size); scoring is a projection;
    * top-k per doc is a window over doc partitions. Two shuffles total.
    * tfidf = tf * ln(1 + N/df), rounded at 4dp (log of an int ratio —
    * boundary collisions are measure-zero).
    */
  def tfIdfTop(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val n = df.count() // corpus size: parquet-metadata count
    val pairs = df.select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
    val tf = pairs.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("tfidf",
        round(col("tf") * log(lit(1.0) + lit(n.toDouble) / col("df")), 4))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tfidf"), col("rank"))
  }

  /** BM25 ranked retrieval over the corpus for a fixed bag of query
    * terms — the search half of corpus curation (tf-idf above ranks
    * terms within a doc; this ranks DOCS for a query, the primitive
    * behind "pull every doc about X out of the corpus"). Okapi BM25:
    *
    *   score(D) = Σ_t ln(1 + (N - df + ½)/(df + ½)) ·
    *              tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Scale shape: one corpus pass carries (doc, dl) through the term
    * explode and FILTERS to the query terms before the (doc, term)
    * hash-agg — everything after the scan is query-hit-sized, not
    * corpus-sized. df (≤ |terms| rows) and the 1-row corpus stats are
    * broadcast; the only other shuffle is the per-doc score agg; top-k
    * plans as TakeOrderedAndProject. Portability: per-term scores are
    * floor-quantized to 1e-4 (the lmScore recipe) and summed as exact
    * longs, so per-doc totals are summation-order-free; dl·N stays an
    * exact long product (< 2^53) before the one double divide, and the
    * constants (k1=1.2, b=0.75 ⇒ k1+1=2.2, 1−b=0.25) are written as
    * the same literals in both engines.
    */
  def bm25Search(df: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], topK: Int): DataFrame = {
    val toks = df.select(col(idCol), tokens(lower(col(textCol))).as("t"))
    val dl = toks.select(col(idCol), size(col("t")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("total_dl"))
    val tf = toks
      .select(col(idCol), size(col("t")).cast("long").as("dl"),
        explode(col("t")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf") + lit(1.2) *
      (lit(0.25) + lit(0.75) * (col("dl") * col("n")).cast("double") / col("total_dl"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        floor(lit(1e4) * idf * (col("tf") * lit(2.2)) / denom).cast("long").as("_cq4"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms_hit"), sum("_cq4").as("bm25_q4"))
      .withColumn("bm25", col("bm25_q4") / lit(1e4))
      .orderBy(col("bm25_q4").desc, col(idCol).asc)
      .limit(topK)
  }

  /** HTML → main-content text extraction — the crawl-ingest step every
    * real corpus hits before any quality/dedup stage. Three regex
    * stages (all scan-local codegen projections, zero shuffle):
    * (1) drop non-content subtrees (script/style) wholesale;
    * (2) turn block-level closes + <br> into line breaks so the
    *     document's visual line structure survives the strip;
    * (3) strip remaining tags, decode the six ubiquitous entities
    *     (&amp; LAST so double-escaped text can't re-introduce markup).
    * Main-content selection is the classic LINE-DENSITY heuristic:
    * boilerplate (nav bars, footers, pagination) lands on short lines
    * after tag-stripping, body prose on long ones — keep lines of
    * >= `minLineChars`. Per-doc arrays are line-bounded (HOFs over a
    * few dozen elements, never corpus-axis), so the whole operator
    * scales as a projection.
    */
  def htmlExtract(df0: DataFrame, idCol: String, htmlCol: String,
                  minLineChars: Int = 25): DataFrame = {
    // five multi-line regex passes per row; fan a degenerate scan out
    val df = graft.Par.fanOut(df0, col(idCol))
    val noScript = regexp_replace(regexp_replace(col(htmlCol),
      "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " ")
    // source whitespace (incl. newlines) is NOT structure in HTML —
    // flatten it first so only the block tags below create line breaks
    val flat = regexp_replace(noScript, "\\s+", " ")
    val blocks = regexp_replace(flat,
      "(?i)</(p|div|li|h[1-6]|tr|td|table|ul|ol|blockquote|section|article|header|footer)>|<br[^>]*>",
      "\n")
    val unTagged = regexp_replace(blocks, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(unTagged) { case (e, (from, to)) => replace(e, lit(from), lit(to)) }
    df.withColumn("_txt", decoded)
      .withColumn("_lines", expr(
        "filter(transform(split(_txt, '\\n'), l -> trim(regexp_replace(l, '\\\\s+', ' '))), l -> l != '')"))
      .withColumn("_kept", expr(s"filter(_lines, l -> length(l) >= $minLineChars)"))
      .select(col(idCol),
        array_join(col("_kept"), "\n").as("main_text"),
        size(col("_kept")).cast("bigint").as("n_kept"),
        size(col("_lines")).cast("bigint").as("n_lines"))
  }

  /** PII scrub: regex masking of emails and digit runs — the standard
    * pre-training redaction pass. Pure codegen'd projection, zero shuffle.
    */
  def piiMask(df: DataFrame, textCol: String, as: String): DataFrame =
    df.withColumn(as,
      regexp_replace(
        regexp_replace(col(textCol), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        "[0-9]+", "<NUM>"))

  /** Sequence packing: lay documents end-to-end in deterministic order
    * and cut fixed token-budget windows — the LLM-training "pack short
    * docs into context windows" pass. Each doc gets the pack it STARTS in
    * (pack_id = exclusive-prefix-sum div budget) and its offset inside
    * that pack. Packing is per `shard` (partitioned window: one shuffle,
    * shard-local prefix sums — shards pack independently on a cluster,
    * which is exactly how a 100 TB packing job runs).
    */
  def packSequences(df: DataFrame, idCol: String, shardCol: String,
                    tokensCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_cum", sum(col(tokensCol)).over(w) - col(tokensCol))
      // integer div, not double-divide-then-cast: exact at any magnitude
      .withColumn("pack_id", expr(s"_cum div $budget"))
      .withColumn("pack_offset", (col("_cum") % budget).cast("bigint"))
      .drop("_cum")
  }

  /** Deterministic stratified sample: within each stratum keep the k rows
    * with the smallest md5(id) — a uniform pseudo-random draw that is
    * reproducible across engines and runs (no RNG state). One shuffle on
    * the stratum; rank via window (WindowGroupLimit pushes the top-k
    * partially map-side, so a hot stratum never ships all its rows).
    */
  def sampleStratified(df: DataFrame, stratumCol: String, idCol: String,
                       k: Int): DataFrame = {
    val h = md5(col(idCol).cast("string").cast("binary"))
    val w = Window.partitionBy(col(stratumCol)).orderBy(h.asc, col(idCol).asc)
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k).drop("_rk")
  }

  /** Per-document lexical-diversity signals — the templated-text gates
    * that need a frequency table rather than just counts: type-token
    * ratio (distinct/total) and Simpson diversity (1 − Σp², the
    * probability two random tokens differ). Both are RATIOS OF EXACT
    * INTEGERS (n, distinct, Σc²), so they are engine-portable without any
    * log/float hazards — deliberately chosen over Shannon entropy, whose
    * log2 differs by ulps across libm implementations and can flip a
    * rounding. Two hash aggs ((doc, token) then (doc)), both map-side
    * combinable; docs with no tokens have no frequency table and surface
    * with zeros via the left join-back.
    */
  def tokenDiversity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol), explode(tokens(lower(col(textCol)))).as("_t"))
      .filter(col("_t") =!= "")
      .groupBy(col(idCol), col("_t")).agg(count(lit(1)).as("_c"))
    val agg = tf.groupBy(col(idCol)).agg(
      sum(col("_c")).as("n_tokens"),
      count(lit(1)).as("distinct_tokens"),
      sum(col("_c") * col("_c")).as("_sq"))
    val n2 = col("n_tokens") * col("n_tokens")
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("distinct_tokens"), lit(0L)).as("distinct_tokens"),
        coalesce(Stable.ratioRounded(col("distinct_tokens"), col("n_tokens"), 4),
          lit(0.0)).as("ttr"),
        coalesce(Stable.ratioRounded(n2 - col("_sq"), n2, 4), lit(0.0)).as("simpson"))
  }

  /** Cross-document duplicated-span fraction: what share of each doc's
    * winnowing fingerprints also appear in at least one OTHER occurrence
    * across the corpus — the span-level (substring) duplication signal
    * used to gate boilerplate-heavy documents, where doc-level near-dedup
    * sees distinct documents but long shared spans remain.
    *
    * Shape: fingerprints stay doc-local (the zero-shuffle native kernel)
    * until the explode, then ONE explicit repartition on the fingerprint
    * feeds BOTH the span document-frequency aggregate and the probe side
    * of the join back — the two consumers share the exchange
    * (ReuseExchange), so the fingerprint kernel + explode run once and
    * the join needs no second shuffle of the fp table. (Leaving the agg
    * to plan its own exchange puts partial-agg rows in it, which defeats
    * the reuse and computes the kernel twice — measured 2× slower at 10×
    * scale.) The per-doc fraction is an average of 0/1 indicators through
    * Stable (exact decimal sum + integer rounding — a raw round(double
    * ratio) can flip between engines). Docs too short to fingerprint
    * surface with n_fps = 0 and frac 0.
    */
  def dupSpanFraction(df: DataFrame, idCol: String, textCol: String,
                      k: Int, w: Int): DataFrame = {
    // The explicit isNotNull mirrors the constraint the final doc-grain
    // LEFT join infers on its build side; without it the inferred filter
    // pushes into only the probe branch's scan and the two subtrees stop
    // canonicalizing equal. The `count(idCol)` leg is count(1) in
    // disguise (ids are non-null): it keeps idCol referenced so column
    // pruning can't specialize this branch away from the join's either.
    // Identical subtrees are what lets ReuseExchange fire.
    val fps = df.filter(col(idCol).isNotNull)
      .select(col(idCol), explode(
        graft.functions.GraftFunctions.winnowFingerprints(col(textCol), k, w)).as("fp"))
      .repartition(col("fp"))
    val spanDf = fps.groupBy(col("fp"))
      .agg(count(col(idCol)).as("_df"))
    val ind = when(col("_df") >= 2, 1.0).otherwise(0.0)
    val perDoc = fps.join(spanDf, "fp")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("_df") >= 2, 1L).otherwise(0L)).as("n_shared"),
        Stable.avgRounded(ind, count(lit(1)), 4).as("dup_span_frac"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_fps"), lit(0L)).as("n_fps"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("dup_span_frac"), lit(0.0)).as("dup_span_frac"))
  }

  /** Span-level decontamination: for each corpus doc, the fraction of its
    * winnowing fingerprints that appear anywhere in the BENCHMARK set —
    * the localization complement of the shingle-overlap and minhash decon
    * checks: those say "this doc is suspiciously close to a benchmark
    * item"; this one says "this many of its spans literally collide",
    * catching a long quoted answer pasted into an otherwise-unrelated doc
    * (doc-level similarity stays low, span collision is high).
    *
    * Shape: the benchmark fingerprint set is tiny by definition (eval
    * suites, not corpora) and BROADCASTS; corpus fingerprints come off
    * the one-pass native winnow kernel, doc-local, with the kernel run
    * ONCE (n_fps rides the explode as a constant-per-doc column instead
    * of a second kernel pass). The only exchange is the final doc-grain
    * re-agg, and map-side partial agg collapses each doc's fp rows in
    * place first (a doc's fingerprints are produced in one task), so the
    * shuffle carries one row per doc. At 100 TB: one filtered pass over
    * the corpus, no corpus-side join shuffle.
    */
  def spanContamination(corpus: DataFrame, bench: DataFrame, idCol: String,
                        textCol: String, k: Int, w: Int): DataFrame = {
    val bfp = bench
      .select(explode(
        graft.functions.GraftFunctions.winnowFingerprints(col(textCol), k, w)).as("fp"))
      .distinct()
      .withColumn("_hit", lit(1L))
    val rows = corpus.select(col(idCol),
        graft.functions.GraftFunctions.winnowFingerprints(col(textCol), k, w).as("_fps"))
      .select(col(idCol), size(col("_fps")).cast("long").as("n_fps"),
        explode_outer(col("_fps")).as("fp"))
    rows.join(broadcast(bfp), Seq("fp"), "left_outer")
      .groupBy(col(idCol))
      .agg(max(col("n_fps")).as("n_fps"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
      .select(col(idCol), col("n_fps"), col("n_hits"),
        when(col("n_fps") === 0, lit(0.0))
          .otherwise(Stable.ratioRounded(col("n_hits"), col("n_fps"), 4))
          .as("contam_frac"))
  }

  /** Deterministic train/val/test split: the id's content-hash draw
    * (first 4 md5 nibbles, uniform on [0, 65536)) lands in cumulative
    * weight buckets — no RNG state, so the assignment is reproducible
    * across engines, runs, task retries AND as the corpus grows (a doc's
    * split never changes when neighbors are added — the property that
    * keeps eval sets stable across dataset versions). Pure codegen
    * projection, zero shuffle.
    */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split weights must sum to 1")
    val draw = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 4),
      16, 10).cast("long")
    val cuts = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val label = splits.init.zip(cuts.init).foldRight(lit(splits.last._1)) {
      case (((name, _), cut), acc) => when(draw < cut * 65536, name).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** Percentile-band filter: keep rows whose score sits inside [lo, hi]
    * by percent_rank — the "trim the quality tails before training" gate.
    * Exact (no sketch), WITHOUT the naive global window (which sinks
    * every row into one partition for the sort): scores are rounded, so
    * the distinct-score histogram is bounded — one hash-agg builds it,
    * a running sum over the (small) distinct scores yields each score's
    * rank, and a broadcast join maps rows to ranks. percent_rank =
    * (rank-1)/(n-1): one division of exact integers, bit-identical in
    * both engines, so the band edges cannot flip.
    */
  def qualityBand(df: DataFrame, scoreCol: String, lo: Double,
                  hi: Double): DataFrame = {
    // The scored relation feeds BOTH the histogram and the join-back —
    // without materialization Spark re-executes the (regex-heavy) scoring
    // subtree once per branch. One eager localCheckpoint of the pruned
    // (id, score) rows is the two-pass-over-materialized-scores design a
    // real deployment uses: scores are narrow, text never rides along.
    // (sf0.1: 1.42 s -> single-pass scoring, the duplicated regex work was
    // the whole gap to the DuckDB bar.)
    // registered, not leaked: the returned plan reads these blocks, so the
    // sweep at the NEXT query invocation frees them (CacheScope contract)
    val scored = CacheScope.checkpoint(df)
    val hist = scored.groupBy(col(scoreCol).as("_s")).agg(count(lit(1)).as("_c"))
    val ws = Window.orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = hist.withColumn("_cum", sum(col("_c")).over(ws))
      .select(col("_s"), (col("_cum") - col("_c") + 1).as("_rank"),
        sum(col("_c")).over().as("_n"))
    scored.join(broadcast(ranks), col(scoreCol) === col("_s"))
      .withColumn("pr", round((col("_rank") - 1).cast("double") /
        (col("_n") - 1).cast("double"), 6))
      .filter(col("pr") >= lo && col("pr") <= hi)
      .drop("_s", "_rank", "_n")
  }

  /** Fixed-weight LINEAR quality classifier — the transparent cousin of
    * the fasttext/logreg quality filters modern pipelines gate on
    * (DCLM/FineWeb-style "classifier says keep"): a distilled weight
    * vector over the [[quality]] features, evaluated as one codegen
    * projection (zero shuffle — classifier inference at 100 TB is a
    * map). Deliberately emits the LOGIT, not the sigmoid probability:
    * the dot product is a fixed left-to-right fold of IEEE ops (bitwise
    * portable across engines), while exp() differs in final ulps across
    * libms — and since the sigmoid is monotonic, thresholding the logit
    * IS thresholding the probability. Gate: logit >= theta keeps.
    */
  def classifierFilter(df: DataFrame, id: String, textCol: String,
                       wAlpha: Double, wPunct: Double, wStop: Double,
                       wLen: Double, intercept: Double,
                       theta: Double): DataFrame = {
    val feats = quality(df.select(col(id), col(textCol)), textCol)
    val logit = lit(intercept) +
      lit(wAlpha) * col("alpha_ratio") +
      lit(wPunct) * col("punct_ratio") +
      lit(wStop) * col("stop_ratio") +
      lit(wLen) * least(col("n_tokens").cast("double") / 100.0, lit(1.0))
    feats.withColumn("logit", logit)
      .filter(col("logit") >= theta)
      .select(col(id), col("logit"))
  }

  /** TRAIN the quality/language filter IN-ENGINE — the missing half of
    * [[classifierFilter]] (fixed weights): a LOGISTIC regression fit by
    * two Newton/IRLS steps whose per-iteration normal equations are
    * EXACT integer sums (the stat_regr Stable contract, generalized to
    * a 3×3 solve). Features are 1e4-scaled integer ratios (round-half-up
    * in pure integer arithmetic), so every Σ w·fᵢ·fⱼ and Σ (y−p)·fᵢ is
    * an order-free decimal(38) sum; the 3×3 Cramer solve then runs the
    * IDENTICAL double expression tree in both engines on identical
    * inputs. Iteration 1 starts at β=0 where p is exactly ½ (w exactly
    * ¼) — fully exact; iteration 2 quantizes the sigmoid to 1e-6 by
    * floor (the lmScore log-quantization precedent: a 1-ulp exp()
    * divergence only matters ON a quantum boundary, and the final
    * coefficients are rounded to 4dp on top). Scale shape: each
    * iteration is ONE map-side-combined scan agg to 9 numbers + a 1-row
    * projection — no driver loop, no collect; the two corpus passes are
    * the whole cost at any size.
    */
  def logitTrain(df: DataFrame, y: Column, x1: Column, x2: Column,
                 ridge: Double = 0.01): DataFrame = {
    // integer feature vector F = (1e4, x1, x2) — f_i = F_i / 1e4.
    // CHECKPOINTED (r15): the three sequential passes (it1 agg, the
    // β₁-scored second agg, the train-accuracy agg) each reference
    // `base`, and a lazy plan re-executes the caller's feature
    // projection per pass — for the shipped queries that is 2-3
    // regexp_replace + a tokenize over the whole corpus text, 3× the
    // dominant cost. The feature table is 3 longs/row; the IRLS passes
    // then scan materialized blocks (guide §5: reuse ⇒ persist the
    // cheap narrow intermediate, not the text).
    val base = graft.CacheScope.checkpoint(
      df.select(y.cast("long").as("y"),
        x1.cast("long").as("x1"), x2.cast("long").as("x2")))
    val S = 10000L
    def f(i: Int): Column = i match {
      case 0 => lit(S); case 1 => col("x1"); case 2 => col("x2")
    }
    val idx = Seq(0, 1, 2)
    def dec(c: Column): Column = sum(c.cast("decimal(38,0)")).cast("double")
    // Cramer 3×3: delta = A⁻¹ g, written once and reused verbatim by the
    // SQL mirror (same multiply/divide tree)
    def solve(a: Map[(Int, Int), Column], g: Seq[Column]): Seq[Column] = {
      def m2(p: Column, q: Column, r: Column, s: Column) = p * q - r * s
      val det = a(0, 0) * m2(a(1, 1), a(2, 2), a(1, 2), a(2, 1)) -
        a(0, 1) * m2(a(1, 0), a(2, 2), a(1, 2), a(2, 0)) +
        a(0, 2) * m2(a(1, 0), a(2, 1), a(1, 1), a(2, 0))
      val d0 = g(0) * m2(a(1, 1), a(2, 2), a(1, 2), a(2, 1)) -
        a(0, 1) * m2(g(1), a(2, 2), a(1, 2), g(2)) +
        a(0, 2) * m2(g(1), a(2, 1), a(1, 1), g(2))
      val d1 = a(0, 0) * m2(g(1), a(2, 2), a(1, 2), g(2)) -
        g(0) * m2(a(1, 0), a(2, 2), a(1, 2), a(2, 0)) +
        a(0, 2) * m2(a(1, 0), g(2), g(1), a(2, 0))
      val d2 = a(0, 0) * m2(a(1, 1), g(2), g(1), a(2, 1)) -
        a(0, 1) * m2(a(1, 0), g(2), g(1), a(2, 0)) +
        g(0) * m2(a(1, 0), a(2, 1), a(1, 1), a(2, 0))
      Seq(d0 / det, d1 / det, d2 / det)
    }
    // iteration 1 (β = 0): p = 1/2 and w = 1/4 EXACTLY; A_ij =
    // 0.25·ΣFᵢFⱼ/1e8, g_i = Σ(2y−1)Fᵢ/2e4 — every sum exact
    val aggs1: Seq[Column] =
      Seq(count(lit(1)).as("n"), sum(col("y")).as("n_pos")) ++
        (for (i <- idx; j <- idx if j >= i)
          yield dec(f(i) * f(j)).as(s"s$i$j")) ++
        idx.map(i => dec((col("y") * 2 - 1) * f(i)).as(s"g$i"))
    val it1 = base.agg(aggs1.head, aggs1.tail: _*)
    // RIDGE-regularized normal equations (lambda*n on the diagonal,
    // lambda*n*beta off the gradient): a constant feature or a linearly
    // separable corpus makes the unregularized A singular/divergent --
    // the standard IRLS failure every real trainer guards against
    val lamN = lit(ridge) * col("n")
    val a1 = idx.flatMap(i => idx.map(j => (i, j) -> {
      val base = lit(0.25) * (col(s"s${math.min(i, j)}${math.max(i, j)}") / lit(1.0e8))
      if (i == j) base + lamN else base
    })).toMap
    val g1 = idx.map(i => col(s"g$i") / lit(2.0e4))
    val b1 = solve(a1, g1)
    val beta1 = it1.select(col("n"), col("n_pos"),
      b1(0).as("b0"), b1(1).as("b1"), b1(2).as("b2"))
    // iteration 2: one scan agg with β₁ broadcast in; sigmoid quantized
    // to 1e-6 by floor, w = p(1−p) in the same integer quantum
    val t = col("b0") + col("b1") * (col("x1").cast("double") / lit(10000.0)) +
      col("b2") * (col("x2").cast("double") / lit(10000.0))
    val scored = base.crossJoin(broadcast(beta1))
      .withColumn("pq", floor(lit(1000000.0) / (lit(1.0) + exp(-t))).cast("long"))
      .withColumn("wq", expr("(pq * (1000000 - pq)) div 1000000"))
    val M = 1000000L
    val aggs2: Seq[Column] =
      (for (i <- idx; j <- idx if j >= i)
        yield dec(col("wq") * f(i) * f(j)).as(s"s$i$j")) ++
        idx.map(i => dec((col("y") * M - col("pq")) * f(i)).as(s"g$i"))
    val it2 = scored.groupBy(col("n"), col("n_pos"), col("b0"), col("b1"), col("b2"))
      .agg(aggs2.head, aggs2.tail: _*)
    val a2 = idx.flatMap(i => idx.map(j => (i, j) -> {
      val base = col(s"s${math.min(i, j)}${math.max(i, j)}") / lit(1.0e14)
      if (i == j) base + lamN else base
    })).toMap
    val betas = Seq(col("b0"), col("b1"), col("b2"))
    val g2 = idx.map(i => col(s"g$i") / lit(1.0e10) - lamN * betas(i))
    val d = solve(a2, g2)
    val beta2 = it2.select(col("n"), col("n_pos"),
      (col("b0") + d(0)).as("b0"), (col("b1") + d(1)).as("b1"),
      (col("b2") + d(2)).as("b2"))
    // third pass: train accuracy of the fitted model — prediction is
    // floor(t·1e6) > 0 (p > ½ up to the documented quantum)
    val hits = base.crossJoin(broadcast(beta2))
      .withColumn("hit",
        (floor(t * lit(1000000.0)) > 0).cast("long") === col("y"))
      .groupBy(col("n"), col("n_pos"), col("b0"), col("b1"), col("b2"))
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("nh"))
    hits.select(col("n"), col("n_pos"),
      round(col("b0"), 4).as("b0"), round(col("b1"), 4).as("b1"),
      round(col("b2"), 4).as("b2"),
      Stable.ratioRounded(col("nh"), col("n"), 4).as("train_acc"))
  }

  /** Unrolled pivot-free Gauss elimination over NAMED one-row columns:
    * the (m × m) system whose entries are the SQL texts `a0`/`g0` is
    * eliminated into dependency LAYERS of (name, sqlExpr) steps (no
    * step references another in its own layer), solution columns
    * `<pre>0..<pre>{m-1}`. No pivoting is needed and the order is
    * deterministic: the ridge normal matrix is symmetric positive
    * definite (λn bounds the smallest eigenvalue away from 0), so
    * every leading principal minor — hence every pivot — is positive.
    * Both engines parse the IDENTICAL strings (Spark `expr`, DuckDB
    * chained CTEs), so the cross-engine double tree is verbatim BY
    * CONSTRUCTION — the property the 3×3 Cramer mirror maintained by
    * hand, now generated. Every double literal in the texts must be
    * binary-exact or CAST (the 0.01 ridge lesson).
    */
  private[operators] def gaussLayers(m: Int, pre: String,
                                     a0: (Int, Int) => String,
                                     g0: Int => String): Seq[Seq[(String, String)]] = {
    val a = Array.tabulate(m, m + 1)((r, c) => if (c < m) a0(r, c) else g0(r))
    val layers = scala.collection.mutable.Buffer[Seq[(String, String)]]()
    for (p <- 0 until m - 1) {
      layers += (for (r <- p + 1 until m)
        yield (s"${pre}f${p}_$r", s"(${a(r)(p)} / ${a(p)(p)})"))
      layers += (for (r <- p + 1 until m; c <- p + 1 to m) yield {
        val nm = s"${pre}e${p}_${r}_$c"
        val ex = s"(${a(r)(c)} - ${pre}f${p}_$r * ${a(p)(c)})"
        a(r)(c) = nm
        (nm, ex)
      })
    }
    for (i <- (m - 1) to 0 by -1) {
      val rhs = ((i + 1) until m).foldLeft(a(i)(m)) {
        (acc, j) => s"($acc - ${a(i)(j)} * $pre$j)"
      }
      layers += Seq((s"$pre$i", s"($rhs / ${a(i)(i)})"))
    }
    layers.toSeq
  }

  /** Evaluate elimination layers as chained one-row projections (each
    * column computed ONCE; the multi-reference CollapseProject guard
    * keeps Catalyst from inlining the chain into an exponential tree). */
  private def applyLayers(df: DataFrame,
                          layers: Seq[Seq[(String, String)]]): DataFrame =
    layers.foldLeft(df) { (d, layer) =>
      d.select(col("*") +: layer.map { case (nm, ex) => expr(ex).as(nm) }: _*)
    }

  /** The same layers as DuckDB CTE text: `<pre>0 AS (SELECT *, … FROM
    * <from>), …`; the last CTE is `<pre>{layers-1}`. */
  private[operators] def layersSql(from: String, pre: String,
                                   layers: Seq[Seq[(String, String)]]): (String, String) = {
    val ctes = layers.zipWithIndex.map { case (layer, i) =>
      val src = if (i == 0) from else s"$pre${i - 1}"
      s"$pre$i AS (SELECT *, ${layer.map { case (nm, ex) => s"$ex AS $nm" }.mkString(", ")} FROM $src)"
    }
    (ctes.mkString(", "), s"$pre${layers.size - 1}")
  }

  /** Shared solve texts for [[logitTrainK]] and its oracle — every
    * double literal binary-exact except the ridge, which rides
    * CAST(0.01 AS DOUBLE) in both engines (the r14 advice lesson). */
  private[operators] def trainKSn(i: Int, j: Int) =
    s"s${math.min(i, j)}${math.max(i, j)}"
  private def trainKRidged(s: String) =
    s"($s + (CAST(0.01 AS DOUBLE) * n))"
  private[operators] def trainKSolve1(m: Int): Seq[Seq[(String, String)]] =
    gaussLayers(m, "b", (i, j) => {
      val b = s"(0.25 * (${trainKSn(i, j)} / 100000000.0))"
      if (i == j) trainKRidged(b) else b
    }, i => s"(g$i / 20000.0)")
  private[operators] def trainKSolve2(m: Int): Seq[Seq[(String, String)]] =
    gaussLayers(m, "d", (i, j) => {
      val b = s"(${trainKSn(i, j)} / 100000000000000.0)"
      if (i == j) trainKRidged(b) else b
    }, i => s"((g$i / 10000000000.0) - (CAST(0.01 AS DOUBLE) * n) * b$i)")
  private[operators] def trainKTS(k: Int): String =
    (1 to k).map(i => s"b$i * (CAST(x$i AS DOUBLE) / 10000.0)")
      .foldLeft("b0")((acc, t) => s"($acc + $t)")

  /** K-FEATURE trainer — [[logitTrain]] widened past the 3×3 Cramer
    * ceiling (real quality filters carry 5-15 features; a fully
    * expanded Cramer at 6×6 is 720-term determinants): the two
    * ridge-IRLS steps are unchanged — exact DECIMAL/HUGEINT normal-
    * equation sums, β=0 first step (w exactly ¼), 1e-6 floor-quantized
    * sigmoid second step — and each solve is [[gaussLayers]] unrolled
    * Gauss elimination whose step texts BOTH engines parse verbatim.
    * Scale shape identical to [[logitTrain]]: each iteration is ONE
    * map-side-combined corpus scan to (k+1)(k+2)/2 + (k+1) numbers,
    * then answer-sized 1-row elimination layers; no driver loop, no
    * collect, features ride as integer quanta (1e4 scale).
    */
  def logitTrainK(df: DataFrame, y: Column, xs: Seq[Column]): DataFrame = {
    val k = xs.size
    val m = k + 1
    val idx = 0 until m
    // checkpointed for the same 3-pass reuse as [[logitTrain]] (r15):
    // (k+1) longs/row vs re-running the regex feature projection per pass
    val base = graft.CacheScope.checkpoint(
      df.select(y.cast("long").as("y") +:
        xs.zipWithIndex.map { case (x, i) => x.cast("long").as(s"x${i + 1}") }: _*))
    def f(i: Int): Column = if (i == 0) lit(10000L) else col(s"x$i")
    def sn(i: Int, j: Int) = s"s${math.min(i, j)}${math.max(i, j)}"
    def dec(c: Column): Column = sum(c.cast("decimal(38,0)")).cast("double")
    val aggs1: Seq[Column] =
      Seq(count(lit(1)).as("n"), sum(col("y")).as("n_pos")) ++
        (for (i <- idx; j <- idx if j >= i) yield dec(f(i) * f(j)).as(sn(i, j))) ++
        idx.map(i => dec((col("y") * 2 - 1) * f(i)).as(s"g$i"))
    val it1 = base.agg(aggs1.head, aggs1.tail: _*)
    val beta1 = applyLayers(it1, trainKSolve1(m))
      .select(col("n") +: col("n_pos") +: idx.map(i => col(s"b$i")): _*)
    val tS = trainKTS(k)
    val scored = base.crossJoin(broadcast(beta1))
      .withColumn("pq",
        expr(s"CAST(floor(1000000.0 / (1.0 + exp(-$tS))) AS BIGINT)"))
      .withColumn("wq", expr("(pq * (1000000 - pq)) div 1000000"))
    val M = 1000000L
    val aggs2: Seq[Column] =
      (for (i <- idx; j <- idx if j >= i)
        yield dec(col("wq") * f(i) * f(j)).as(sn(i, j))) ++
        idx.map(i => dec((col("y") * M - col("pq")) * f(i)).as(s"g$i"))
    val keys = col("n") +: col("n_pos") +: idx.map(i => col(s"b$i"))
    val it2 = scored.groupBy(keys: _*).agg(aggs2.head, aggs2.tail: _*)
    val beta2 = applyLayers(it2, trainKSolve2(m))
      .select(col("n") +: col("n_pos") +:
        idx.map(i => expr(s"(b$i + d$i)").as(s"b$i")): _*)
    val hits = base.crossJoin(broadcast(beta2))
      .withColumn("hit",
        expr(s"CAST(floor($tS * 1000000.0) AS BIGINT) > 0").cast("long") === col("y"))
      .groupBy(keys: _*)
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("nh"))
    hits.select(col("n") +: col("n_pos") +:
      (idx.map(i => round(col(s"b$i"), 4).as(s"b$i")) :+
        Stable.ratioRounded(col("nh"), col("n"), 4).as("train_acc")): _*)
  }

  /** Exact dedup by content hash: one hash-agg groupBy (map-side combine,
    * one shuffle on the 128-bit key — uniform, skew-free at any scale),
    * keep-first = min doc id per hash.
    */
  def dedupExact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** Canonicalization dedup — the layer every real pipeline runs between
    * byte-exact and MinHash: Unicode NFC (so "café" composed and
    * decomposed are one string BEFORE any byte-level hash sees them —
    * the r11 gap: codepoint-identical multilingual text used to slip
    * every dedup layer), lowercase, collapse every non-alphanumeric run
    * to a single space, trim, THEN hash. Catches the near-universal
    * trivial variants (case, punctuation, whitespace/encoding damage,
    * composed-vs-decomposed codepoints) at exact-dedup cost: the
    * normalization is a zero-shuffle projection fused into the scan
    * (NFC quick-checks and keeps already-normalized bytes), and the
    * dedup stays ONE hash-agg on a uniform 128-bit key — no candidate
    * generation, no verify pass, skew-free at any scale.
    * `n_raw_variants` (distinct raw hashes per canonical group)
    * separates what THIS layer merged from what byte-exact dedup would
    * already have caught.
    */
  def dedupNormalized(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = trim(regexp_replace(lower(
      graft.functions.GraftFunctions.unicodeNormalize(col(textCol), "NFC")),
      "[^a-z0-9]+", " "))
    df.groupBy(md5(norm).as("norm_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dupes"),
        countDistinct(md5(col(textCol))).as("n_raw_variants"))
  }

  /** Collocation mining: adjacent-token pairs scored by the Dice
    * coefficient 2·c(x,y)/(c(x)+c(y)) — chosen over PMI because it is a
    * ratio of exact integer counts (bitwise-portable via the scaled
    * half-up rounding in [[Stable.ratioRounded]]; PMI's log is monotone
    * in the same quantity for fixed margins, so the ranking story is the
    * same). Scale shape: bigram and unigram counting are the only
    * corpus-sized passes (map-side-combined hash aggs); the min-count
    * floor then shrinks the bigram table BEFORE the two margin joins,
    * which run vocabulary-vs-vocabulary. The unigram side is NOT pinned
    * broadcast — Heaps' law is not a broadcast budget: a multilingual
    * 100 TB vocabulary is ~1e8 rows and a pinned hint OOMs the driver
    * (the same reasoning that sizes lmScore's margin joins). AQE decides
    * from measured sizes: at moderate vocab it broadcasts, at extreme
    * vocab the fallback is a vocabulary-scale (not corpus-scale) shuffle
    * join on the word key. Top-K plans as TakeOrderedAndProject.
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long,
                   topK: Int): DataFrame = {
    val toks = df.select(tokens(lower(col(textCol))).as("t"))
    val uni = toks.select(explode(col("t")).as("w")).filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(2, size(t)), i -> struct(element_at(t, i - 1) AS x, element_at(t, i) AS y))")).as("b"))
      .select(col("b.x").as("w1"), col("b.y").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
    bi.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), Seq("w2"))
      .select(col("w1"), col("w2"), col("pair_count"),
        Stable.ratioRounded(col("pair_count") * 2, col("c1") + col("c2"), 4).as("dice"))
      .orderBy(col("dice").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** BPE tokenizer training's inner counting step: frequency of every
    * adjacent character pair, weighted by word frequency. The critical
    * scale move is the same one every real BPE trainer makes — collapse
    * the corpus to its WORD VOCABULARY first (one hash-agg; vocabulary
    * size grows ~log with corpus size, Heaps' law), then do all pair work
    * on the vocabulary. A 100 TB corpus has billions of token
    * occurrences but only millions of distinct words, so the pair
    * explode + second agg run on data ~4 orders of magnitude smaller
    * than the input; merge iterations beyond this first one would loop
    * over the same vocabulary-sized table without touching the corpus
    * again. Top-K plans as TakeOrderedAndProject (no global sort).
    */
  def bpePairCounts(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    val words = df.select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
    val wc = words.groupBy("w").agg(count(lit(1)).as("wn"))
    // sequence(1, len-1) would DESCEND for 1-char words (Spark's sequence
    // steps -1 when start > stop), so short words are filtered first
    val pairs = wc.filter(length(col("w")) >= 2)
      .select(col("wn"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
    pairs.groupBy("pair").agg(sum("wn").as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair").asc)
      .limit(topK)
  }

  /** BPE tokenizer training's MERGE LOOP — the piece a tokenizer user
    * actually runs on top of [[bpePairCounts]]'s inner counting step:
    * greedily merge the most frequent adjacent symbol pair, re-count,
    * repeat `k` times. Returns the learned merge table (rank, pair,
    * merged symbol, frequency at merge time) — the artifact a tokenizer
    * ships.
    *
    * Scale shape: the corpus is touched ONCE (the word-vocabulary
    * hash-agg); every merge round then runs on the vocabulary table
    * (Heaps'-law-bounded — millions of rows at 100 TB, not billions),
    * re-materialized per round via localCheckpoint with the previous
    * round's blocks freed immediately, so the loop holds exactly one
    * vocabulary generation at a time. The per-round `.collect()` is the
    * argmax — ONE row — which is how every BPE trainer sequences merges
    * (merge i+1's counts depend on merge i having been applied).
    *
    * Symbols ride a separator-delimited string (" a b c " for "abc");
    * a merge is a literal string replace of " x y " with " xy " —
    * left-to-right non-overlapping, exactly BPE's greedy application,
    * and expressible identically in any engine (the oracle replays the
    * same k rounds as unrolled SQL CTEs). Ties break (count desc, lhs
    * asc, rhs asc) in both.
    */
  def bpeMerges(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    val words = df.select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
    val vocab0 = words.groupBy("w").agg(count(lit(1)).as("wn"))
      .select(concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("repr"),
        col("wn"))
    var cur = CacheScope.unscoped(vocab0)
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= k && !done) {
      val best = cur
        .select(col("wn"), expr("filter(split(repr, ' '), s -> s != '')").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("wn"), explode(expr(
          "transform(sequence(2, size(t)), i -> struct(element_at(t, i - 1) AS x, element_at(t, i) AS y))")).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum("wn").as("cnt"))
        .orderBy(col("cnt").desc, col("x").asc, col("y").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (x, y, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank.toLong, x, y, x + y, cnt))
        val next = CacheScope.unscoped(cur.withColumn("repr",
          replace(col("repr"), lit(s" $x $y "), lit(s" $x$y "))))
        CacheScope.free(cur)
        cur = next
        rank += 1
      }
    }
    CacheScope.free(cur)
    import spark.implicits._
    spark.createDataset(merges.result())
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** BPE ENCODE — the missing half of the tokenizer story: apply a
    * LEARNED merge table ([[bpeMerges]]'s output — the artifact a
    * tokenizer ships) to a corpus and report the encoding of every
    * distinct WORD. Applying merges in rank order as delimited-string
    * replaces (" x y " → " xy ") is exactly the greedy left-to-right
    * application the merges were learned under, and is replayable
    * verbatim in any engine.
    *
    * Scale shape: the merge table is k rows — collected as bounded
    * metadata (same class as k-means centroids) and baked into ONE
    * whole-stage-codegen projection of k chained literal replaces. The
    * projection runs at VOCABULARY grain (Heaps'-law bounded: millions
    * of distinct words at 100 TB, not billions of occurrences) — this is
    * how a production pipeline runs a frozen tokenizer: encode the
    * vocabulary once, then map the corpus onto it with a join that AQE
    * sizes (broadcast at any realistic vocabulary). The symbol count
    * needs no higher-order function: repr keeps exactly one delimiter
    * space per boundary, so n_bpe = spaces − 1 — two codegen'd lengths.
    */
  /** The frozen-tokenizer encode projection on a `w` column. The merge
    * table (bounded tokenizer metadata, k rows) is collected once and
    * carried inside the native [[graft.functions.BpeApply]] expression —
    * rank-priority pair scanning, O(len·log len) per word INDEPENDENT of
    * k, so a real ~50k-merge tokenizer encodes in the same single
    * whole-stage-codegen projection as the test-scale tables (the former
    * k-chained-replace shape blew past Janino's 64 KB method limit at
    * real vocabulary k; BpeApplySpec pins byte-equality to the
    * replace-chain semantics). Shared by the word- and corpus-grain
    * entry points.
    */
  private def bpeReprCol(merges: DataFrame, textbook: Boolean = false): Column = {
    val table = merges.orderBy("merge_rank").select("lhs", "rhs").collect()
      .map(m => (m.getString(0), m.getString(1))).toSeq
    graft.functions.GraftFunctions.bpeApply(col("w"), table, textbook)
  }

  /** repr → symbol count: repr keeps exactly one delimiter space per
    * boundary, so n_bpe = spaces − 1 — two codegen'd lengths, no HOF. */
  private def bpeCountCol: Column =
    (length(col("bpe_repr")) -
      length(replace(col("bpe_repr"), lit(" "), lit(""))) - 1).cast("bigint")

  /** PUBLIC merge-table excerpt: the first 8 merges of the GPT-2
    * tokenizer's published `vocab.bpe` (openai/gpt-2; `Ġ` is GPT-2's
    * leading-space marker). An EXTERNAL, ecosystem-published table —
    * nothing here trained it — so encoding against it under textbook
    * semantics is a parity check against the published tokenizer
    * algorithm itself, not a self-consistency loop. BpeApplySpec pins
    * known canonical encodings (" the" → one token) on this table.
    */
  val gpt2MergesExcerpt: Seq[(String, String)] = Seq(
    "Ġ" -> "t", "Ġ" -> "a", "h" -> "e", "i" -> "n",
    "r" -> "e", "o" -> "n", "Ġt" -> "he", "e" -> "r")

  /** Vocabulary-grain encode under a FIXED published merge table with
    * canonical (textbook) BPE semantics — each word carries GPT-2's Ġ
    * leading-space marker, exactly how the published tokenizer sees a
    * space-preceded word. Same scan-fused single-projection shape as
    * [[bpeEncodeWords]]; the mode only changes the per-word merge order
    * inside the native expression.
    */
  def bpeEncodeWordsTextbook(df: DataFrame, textCol: String,
                             merges: Seq[(String, String)]): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wn"))
      .withColumn("bpe_repr", graft.functions.GraftFunctions.bpeApply(
        concat(lit("Ġ"), col("w")), merges, textbook = true))
      .withColumn("n_bpe", bpeCountCol)

  def bpeEncodeWords(df: DataFrame, textCol: String, merges: DataFrame,
                     textbook: Boolean = false): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wn"))
      .withColumn("bpe_repr", bpeReprCol(merges, textbook))
      .withColumn("n_bpe", bpeCountCol)

  /** Corpus-level BPE encode: true tokenizer token counts per document —
    * the denomination every token budget, packing window and compute
    * estimate should be in (whitespace counts under-count rare words and
    * ignore punctuation fusing). ONE corpus-axis pass: the (doc, word)
    * aggregate is computed once and the vocabulary side derives FROM it
    * (sum of per-doc counts), so the expensive explode never runs twice;
    * then a vocabulary-grain encode join (AQE-sized) and one per-doc
    * agg — all map-side-combinable, linear at any scale.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: DataFrame, textbook: Boolean = false): DataFrame = {
    val dw = df.select(col(idCol), explode(tokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
    val enc = dw.groupBy("w").agg(sum(col("c")).as("wn"))
      .withColumn("bpe_repr", bpeReprCol(merges, textbook))
      .select(col("w"), bpeCountCol.as("n_bpe"))
    dw.join(enc, Seq("w"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("n_bpe")).as("bpe_tokens"))
  }

  /** The PRODUCTION shape of the merge loop: [[bpeMerges]] is the
    * oracle-checkable distributed kernel, but sequencing k merges as k
    * Spark jobs is not a plan for a real tokenizer's ~50k merges. Every
    * real trainer does what this does: pull the WORD VOCABULARY — one
    * corpus pass, Heaps'-law bounded (millions of rows at 100 TB, a few
    * hundred MB) — to one node ONCE, then run the merge loop locally
    * where an argmax costs microseconds instead of a job launch. Merge
    * semantics are byte-identical to [[bpeMerges]] (same delimited-
    * string greedy replace, same (count desc, lhs, rhs) tie order), so
    * the two trainers emit the same table — spec-pinned, and the query
    * registration shares [[bpeMerges]]' oracle verbatim.
    */
  def bpeMergesLocal(df: DataFrame, textCol: String, k: Int,
                     textbook: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vocab = df.select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wn"))
      .as[(String, Long)].collect()
    // textbook application: one leftmost-non-overlapping SWEEP over the
    // symbol array (canonical GPT-2/HF semantics — no consumed-space
    // skip, so " a a a a " → " aa aa "). Chain mode keeps the literal
    // string replace, whose trained tables the registered oracles replay.
    def applyTextbook(repr: String, x: String, y: String): String = {
      val t = repr.split(" ").filter(_.nonEmpty)
      val sb = new StringBuilder(repr.length)
      sb.append(' ')
      var i = 0
      while (i < t.length) {
        if (i < t.length - 1 && t(i) == x && t(i + 1) == y) {
          sb.append(x).append(y).append(' '); i += 2
        } else { sb.append(t(i)).append(' '); i += 1 }
      }
      sb.toString
    }
    var reprs: Array[(String, Long)] =
      vocab.map { case (w, n) => (" " + w.flatMap(c => s"$c "), n) }
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= k && !done) {
      val counts = new java.util.HashMap[(String, String), Long]()
      reprs.foreach { case (repr, wn) =>
        val t = repr.split(" ").filter(_.nonEmpty)
        var i = 0
        while (i < t.length - 1) {
          counts.merge((t(i), t(i + 1)), wn, _ + _)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // argmax by (count desc, lhs asc, rhs asc) — bpeMerges' order
        var best: ((String, String), Long) = null
        counts.forEach { (p, c) =>
          if (best == null || c > best._2 ||
              (c == best._2 && (p._1 < best._1._1 ||
                (p._1 == best._1._1 && p._2 < best._1._2)))) best = (p, c)
        }
        val ((x, y), cnt) = best
        merges += ((rank.toLong, x, y, x + y, cnt))
        reprs =
          if (textbook) reprs.map { case (r, n) => (applyTextbook(r, x, y), n) }
          else reprs.map { case (r, n) => (r.replace(s" $x $y ", s" $x$y "), n) }
        rank += 1
      }
    }
    spark.createDataset(merges.result())
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** Vocabulary coverage / out-of-vocabulary rate per document against the
    * corpus's own top-`vocabK` terms — the pre-tokenizer audit that tells
    * you what fraction of a corpus a fixed vocabulary would cover (high
    * OOV rate flags encoding damage, wrong-language spills, or a stale
    * vocab). Two passes by necessity (the vocabulary is a global
    * aggregate): pass 1 is a hash-agg + TakeOrdered down to `vocabK`
    * rows; pass 2 joins the token stream against the vocabulary — which
    * is BROADCAST, so the corpus-sized side never shuffles for the join
    * and the only wide exchange is the final per-doc agg.
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String, vocabK: Int): DataFrame = {
    def toks = df.select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term").asc).limit(vocabK)
      .select(col("term"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("term"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", Stable.ratioRounded(col("n_oov"), col("n_tokens"), 4))
  }

  /** Sentence segmentation + per-sentence table: split on terminal
    * punctuation runs ([.!?]+ followed by whitespace or end), emit one
    * row per (doc, sentence index) with the sentence text and its token
    * count — the substrate of sentence-level dedup, citation chunking
    * and per-sentence quality filters. Doc-local explode, zero shuffle,
    * scan-fused; the regex split is one pass per doc. Empty fragments
    * (leading/trailing/double terminators) are dropped, mirroring every
    * real segmenter.
    */
  def sentences(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), posexplode(expr(
        s"filter(transform(split($textCol, '[.!?]+(\\\\s+|$$)'), s -> trim(s)), s -> s != '')"))
        .as(Seq("sent_idx", "sentence")))
      .withColumn("sent_idx", col("sent_idx").cast("long"))
      .withColumn("n_tokens", size(tokens(col("sentence"))).cast("long"))

  /** Boilerplate detection: the sentences repeated across the most
    * DOCUMENTS (headers, footers, cookie banners, license blurbs — the
    * text a training pipeline strips before tokenizing). Composes
    * [[sentences]] with a per-doc distinct (a sentence repeated inside
    * one doc counts once — document frequency, not raw frequency) and
    * one map-side-combined hash agg on the sentence hash; top-k plans
    * as TakeOrderedAndProject. The min-docs floor keeps the output
    * boilerplate-sized at any corpus scale.
    */
  def boilerplate(df: DataFrame, idCol: String, textCol: String,
                  minDocs: Long, topK: Int): DataFrame =
    sentences(df, idCol, textCol)
      .select(col(idCol), col("sentence")).distinct()
      .groupBy("sentence").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("sentence").asc)
      .limit(topK)

  /** Sentence-level dedup WITH REMOVAL — the paragraph-dedup shape the
    * large corpus pipelines run (strip repeated boilerplate/quoted
    * blocks but KEEP one canonical copy): a sentence appearing in >=
    * `minDocs` distinct documents survives only in the lowest-id doc
    * containing it; every doc's remaining sentences are reassembled in
    * order into a cleaned text column. Differs from [[boilerplate]]
    * (which only REPORTS the repeated sentences) by emitting the
    * cleaned corpus, and from doc-level dedup by operating inside
    * documents.
    *
    * Shape: the corpus-wide split feeds ONE explicit sentence-grain
    * repartition that BOTH consumers read (the df/first-doc aggregate
    * and the join probe) — ReuseExchange shares it, so the regexp
    * split + explode run once (the text_dup_spans lesson: leaving each
    * branch to plan its own exchange re-executes the split subtree).
    * Under that partitioning the distinct and the sentence agg are
    * partition-local (no further exchange). The frequency table is
    * FILTERED to df >= minDocs before the join — the kept side is
    * duplicated-sentences-only (boilerplate-sized in a healthy
    * corpus), singletons never join; no pinned broadcast hint (a
    * pathologically duplicated corpus could outgrow it — AQE decides).
    * The re-concat is a doc-grain agg.
    *
    * Fidelity caveat: `clean_text` is REASSEMBLED from the segmenter's
    * output, so original sentence separators ('!', '?', '...') are
    * normalized to '. ' even in untouched docs. Pipelines that must
    * preserve original bytes should treat n_kept < n_sents as the
    * edit signal and splice the originals; the cleaned column is for
    * tokenizer-bound corpora where separator normalization is routine.
    */
  def dedupSentences(df: DataFrame, idCol: String, textCol: String,
                     minDocs: Long = 2): DataFrame = {
    // materialize the split + sentence-grain exchange ONCE (CacheScope
    // lifetime): the df aggregate and the join probe each consume the
    // checkpointed relation, so the corpus-wide regexp split cannot
    // re-execute per branch. (ReuseExchange was tried first and is
    // fragile here — the final doc-grain join infers an isNotNull into
    // only the probe branch and column pruning specializes the agg
    // branch's scan, so the subtrees stop canonicalizing equal.)
    val s = graft.CacheScope.checkpoint(
      sentences(df.filter(col(idCol).isNotNull), idCol, textCol)
        .select(col(idCol), col("sent_idx"), col("sentence"))
        .repartition(col("sentence")))
    val dups = s.select(col(idCol), col("sentence")).distinct()
      .groupBy("sentence")
      .agg(count(lit(1)).as("_docs"), min(col(idCol)).as("_first"))
      .filter(col("_docs") >= minDocs)
    val kept = s.join(dups, Seq("sentence"), "left_outer")
      .withColumn("_keep", col("_docs").isNull || col(idCol) === col("_first"))
    val agg = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_sents"),
      sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(when(col("_keep"),
          struct(col("sent_idx"), col("sentence"))))),
        x => x("sentence")), ". ").as("clean_text"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_sents"), lit(0L)).as("n_sents"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Exact-substring span dedup WITH REMOVAL — the ExactSubstr pass of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"), the standard stage production corpus prep runs
    * between near-dup doc dedup and sentence dedup: any token span of
    * length ≥ `k` that occurs MORE THAN ONCE across the corpus (cross-
    * document or repeated within one document) is removed everywhere
    * except its first occurrence, and each document's surviving tokens
    * are reassembled in order.
    *
    * Semantics (token-grain, deterministic): a token position is
    * removed iff some k-gram covering it is a NON-FIRST occurrence of
    * that k-gram, where "first" is the minimum (doc, pos) over all
    * occurrences corpus-wide. A duplicated span of length L ≥ k is
    * covered by exactly its L−k+1 duplicated k-grams, so maximal
    * duplicated spans are removed as wholes and overlapping spans
    * union naturally; the first occurrence keeps every token because
    * all of ITS covering k-grams are first occurrences. Keep-first
    * ties cannot occur ((doc, pos) is unique per occurrence).
    *
    * Scale shape: token arrays are built ONCE per doc (scan-fused
    * projection); k-gram keys are md5 digests so the corpus-wide
    * shuffle carries fixed-width keys, never k-token strings. First-
    * occurrence detection is a single window min over the k-gram
    * exchange (one shuffle, no self-join); covered positions are
    * emitted as an EXACT interval union over the per-doc sorted
    * removal starts (each start contributes only its newly-covered
    * suffix), so the covered stream is |removed tokens| rows — never
    * k·|removals| — even when nearly the whole corpus is duplicated;
    * the reassembly is the dedupSentences join+agg shape at token
    * grain. Nothing is driver-side; every stage is a hash exchange on
    * (gram) or (doc, pos).
    *
    * Fidelity caveat (same as [[dedupSentences]]): `clean_text` is
    * whitespace-NORMALIZED (tokens rejoined with single spaces); a
    * byte-preserving pipeline should use (n_removed > 0) as the edit
    * signal and splice original bytes. Docs shorter than `k` tokens
    * carry no k-gram and are kept verbatim.
    */
  def dedupSpansRemoval(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // token arrays once; 0-based positions; the split runs once per
    // consumer of the checkpointed relation (kg, tok, final widths)
    val tk = graft.CacheScope.checkpoint(
      df.filter(col(idCol).isNotNull)
        .select(col(idCol),
          filter(tokens(col(textCol)), t => t =!= "").as("t")))
    // k-gram occurrences: (doc, pos, md5(gram)); unit-separator join so
    // token boundaries cannot alias; docs shorter than k emit none
    val kg = tk.filter(size(col("t")) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("t")) - k),
          i => md5(concat_ws("\u001F", slice(col("t"), i + 1, lit(k)))))))
      .select(col(idCol), col("pos"), col("col").as("g"))
    // non-first occurrences: per-gram min(struct) as a GROUPED AGG +
    // join-back, not a gram-partitioned window — min is duplicate-
    // insensitive so the agg combines MAP-SIDE (a boilerplate gram in
    // 10^8 docs reduces to one row per input partition before the
    // exchange), and the join-back probe side is a plain equi-join AQE
    // can skew-split; a window over partitionBy(g) would sort the
    // hottest gram's entire occurrence list in ONE task — the exact
    // case (heavy duplication) this operator exists for
    val firstOcc = kg.groupBy("g")
      .agg(min(struct(col(idCol), col("pos"))).as("_first"))
    val removals = kg.join(firstOcc, Seq("g"))
      .filter(!(col(idCol) === col("_first")(idCol) &&
        col("pos") === col("_first")("pos")))
      .select(col(idCol), col("pos"))
    // covered token positions as an EXACT interval union: removal
    // starts sorted per doc, each emits only its newly-covered range
    // max(pos, prev+k)..pos+k-1 (always non-empty for pos > prev), so
    // the emitted set IS the union — no k-fold explode, no distinct.
    // Under heavy duplication (the ExactSubstr hot case) this emits
    // |covered| rows instead of k·|removals|.
    val prev = lag(col("pos"), 1).over(
      Window.partitionBy(col(idCol)).orderBy(col("pos")))
    val covered = removals.withColumn("_prev", prev)
      .select(col(idCol), explode(sequence(
        when(col("_prev").isNull, col("pos"))
          .otherwise(greatest(col("pos"), col("_prev") + k)),
        col("pos") + (k - 1))).as("tpos"))
      .withColumn("_rm", lit(1))
    val tok = tk.select(col(idCol), posexplode(col("t")))
      .select(col(idCol), col("pos").as("tpos"), col("col").as("token"))
    val agg = tok.join(covered, Seq(idCol, "tpos"), "left")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("_rm").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(col("_rm").isNull,
            struct(col("tpos"), col("token"))))),
          x => x("token")), " ").as("clean_text"))
    tk.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Corpus-trained bigram language-model quality score — the cheap
    * stand-in for a perplexity filter: train add-one-smoothed token
    * bigram probabilities on the corpus itself (one pass), then score
    * each document by its average log-probability (a second pass). Low
    * scores flag boilerplate-free gibberish; implausibly high scores
    * flag templated/repeated text. Scale shape: BOTH n-gram margin
    * joins are left UNHINTED — Heaps'-law bounds are not broadcast
    * budgets (a multilingual vocabulary is easily 1e8 rows at 100 TB),
    * so AQE / autoBroadcastJoinThreshold picks broadcast (small
    * corpora) vs shuffle (production) from the measured size of each
    * side. Only the 1-row vocab count keeps an explicit broadcast. The corpus-sized work
    * is two token-stream passes ending in one per-doc agg.
    * Portability: each bigram's log-prob is quantized to 1e-4 by
    * FLOOR (unambiguous on any double, unlike round-at-tie), summed as
    * exact integers, so per-doc totals are order-free; the final avg
    * divides identical exact operands in both engines.
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the token table feeds the unigram agg and BOTH bigram passes —
    // lazy, that re-tokenized (lower + regex split) the corpus 3× per
    // invocation; checkpoint once (r15)
    val toks = graft.CacheScope.checkpoint(
      df.select(col(idCol), tokens(lower(col(textCol))).as("t")))
    val uni = toks.select(explode(col("t")).as("w")).filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    def docBi = toks.filter(size(col("t")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(2, size(t)), i -> struct(element_at(t, i - 1) AS x, element_at(t, i) AS y))")).as("b"))
      .select(col(idCol), col("b.x").as("w1"), col("b.y").as("w2"))
    val bi = docBi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val li = floor(log((col("c12") + 1).cast("double") /
      (col("c1") + col("v")).cast("double")) * 1e4).cast("long")
    docBi.join(bi, Seq("w1", "w2"))
      .join(uni, col("w1") === col("w"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol), li.as("li"))
      .groupBy(col(idCol))
      .agg(sum("li").as("logp_q4"), count(lit(1)).as("n_bigrams"))
      .withColumn("avg_logp",
        col("logp_q4").cast("double") / (col("n_bigrams").cast("double") * lit(10000.0)))
  }

  // ---------------------------------------------------------------- queries

  /** (raw-suffix, repaired-suffix, rounds) rows for text_fix_mojibake —
    * stated as explicit escapes and shared verbatim by the Spark fixture
    * and the DuckDB oracle, so the ONLY thing under test is the engine's
    * sloppy-cp1252 round-trip ([[graft.functions.FixMojibake]]). Rows:
    * clean ASCII, four single-mojibake forms (accents, curly quotes/
    * dashes via the cp1252 C1 page, incl. the undefined-byte U+009D
    * path), a double-mojibake form, and a 4-byte-UTF-8 emoji form. */
  private val mojiVariants: Seq[(String, String, Int)] = Seq(
    ("plain ascii only",
      "plain ascii only", 0),
    ("caf\u00c3\u00a9",
      "caf\u00e9", 1),
    ("na\u00c3\u00afve se\u00c3\u00b1or",
      "na\u00efve se\u00f1or", 1),
    ("Z\u00c3\u00bcrich\u00e2\u20ac\u201dd\u00c3\u00a9j\u00c3\u00a0 vu",
      "Z\u00fcrich\u2014d\u00e9j\u00e0 vu", 1),
    ("I\u00e2\u20ac\u2122m \u00e2\u20ac\u0153fine\u00e2\u20ac\u009d\u00e2\u20ac\u00a6 \u00e2\u20ac\u201c ok\u00e2\u201e\u00a2",
      "I\u2019m \u201cfine\u201d\u2026 \u2013 ok\u2122", 1),
    ("caf\u00c3\u0192\u00c2\u00a9",
      "caf\u00e9", 2),
    ("\u00f0\u0178\u017d\u2030 party",
      "\ud83c\udf89 party", 1))

  private val enIn = stopEn.map(w => s"'$w'").mkString(", ")
  private val esIn = stopEs.map(w => s"'$w'").mkString(", ")
  private val frIn = stopFr.map(w => s"'$w'").mkString(", ")

  // the langid replay text_langid states and its audit text_langid_eval
  // composes: stopword hits per language over `t(doc_id, tk)`, and the
  // verdict over those hits
  private val langHitsCte =
    s"h AS (SELECT doc_id, len(list_filter(tk, x -> x IN ($enIn)))::BIGINT AS en_hits, len(list_filter(tk, x -> x IN ($esIn)))::BIGINT AS es_hits, len(list_filter(tk, x -> x IN ($frIn)))::BIGINT AS fr_hits FROM t)"
  private val langPredSql =
    "CASE WHEN en_hits = 0 AND es_hits = 0 AND fr_hits = 0 THEN 'und' WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en' WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END"

  /** Quality-score + percentile-band CTE chain over an arbitrary
    * (doc_id, text) source, ending in `band(doc_id)` — the reusable
    * oracle image of quality() + qualityBand() for composed pipelines.
    * Same arithmetic as the standalone text_quality_band oracle.
    */
  private[operators] def sqlQualityBandCtes(src: String, lo: Double, hi: Double): String =
    raw"""${sqlQualityCtes(src)}, qp AS (SELECT doc_id, quality_score, round(percent_rank() OVER (ORDER BY quality_score), 6) AS pr FROM qq), band AS (SELECT doc_id FROM qp WHERE pr >= $lo AND pr <= $hi)"""

  /** Just the quality-score half of [[sqlQualityBandCtes]], ending in
    * `qq(doc_id, quality_score)` — for consumers that score without
    * banding (dedup_keep_best's per-cluster argmax).
    */
  private[operators] def sqlQualityCtes(src: String): String = {
    val alphaR = Stable.sqlRatioRounded("alpha", "ln", 4)
    val punctR = Stable.sqlRatioRounded("punct", "ln", 4)
    val stopR = Stable.sqlRatioRounded("stops", "ntok", 4)
    raw"""qc AS (SELECT doc_id, length(text) AS ln, length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha, length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS punct, len(string_split_regex(trim(text), '\s+')) AS ntok, len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ($enIn))) AS stops FROM $src), qq AS (SELECT doc_id, round($alphaR - $punctR + least($stopR * 2, 0.5), 4) AS quality_score FROM qc)"""
  }

  /** DuckDB image of [[htmlWrapped]] + [[htmlExtract]]: ends in
    * `k(doc_id, kept, lines)`. Shared by both html oracles. */
  private val htmlOracleCtes: String =
    raw"""h AS (SELECT doc_id, '<html><head><title>Doc ' || doc_id || '</title><style>p{margin:0}</style><script>trackPage();</script></head><body><div><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></div><p>' || text || '</p><div>next &amp; prev</div><footer>&copy; 2026 Corp</footer></body></html>' AS html FROM documents), s1 AS (SELECT doc_id, regexp_replace(regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'), '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM h), s1b AS (SELECT doc_id, regexp_replace(t, '\s+', ' ', 'g') AS t FROM s1), s2 AS (SELECT doc_id, regexp_replace(t, '(?i)</(p|div|li|h[1-6]|tr|td|table|ul|ol|blockquote|section|article|header|footer)>|<br[^>]*>', chr(10), 'g') AS t FROM s1b), s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2), s4 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM s3), ln AS (SELECT doc_id, list_filter(list_transform(string_split(t, chr(10)), l -> trim(regexp_replace(l, '\s+', ' ', 'g'))), l -> l != '') AS lines FROM s4), k AS (SELECT doc_id, list_filter(lines, l -> length(l) >= 25) AS kept, lines FROM ln)"""

  /** The deterministic crawl-page wrap both html queries derive (nav bar,
    * style, script, entity-bearing footer around the document body). */
  private def htmlWrapped(docs: DataFrame): DataFrame =
    docs.withColumn("html", concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><style>p{margin:0}</style><script>trackPage();</script></head><body><div><a href=\"/\">Home</a> <a href=\"/about\">About</a> <a href=\"/contact\">Contact</a></div><p>"),
      col("text"),
      lit("</p><div>next &amp; prev</div><footer>&copy; 2026 Corp</footer></body></html>")))

  /** The k merge rounds both engines run for text_bpe_merges. */
  private[operators] val bpeMergeK = 10

  /** Session-lifetime learned merge table — the frozen-tokenizer
    * artifact every encode-side query shares (trained once per corpus,
    * the same build-once contract as the ANN index tables).
    */
  private[operators] def mergesFor(s: org.apache.spark.sql.SparkSession,
                                   d: String): DataFrame =
    graft.IndexCache.of(s, d, s"bpemerges|$bpeMergeK")(
      bpeMerges(Tables.documents(s, d).select("text"), "text", k = bpeMergeK))

  /** The merge loop unrolled as SQL: g0 is the character-delimited word
    * vocabulary; round i picks m_i = argmax pair of g_{i-1} (count desc,
    * lhs asc, rhs asc) and g_i applies it by literal replace. If a round
    * finds no pair the m_i CTE is empty and every later round stays
    * empty — exactly the Spark loop's early stop.
    */
  private def bpeMergesOracle(k: Int): String = {
    val base = raw"""wds AS (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t != '')) AS w FROM documents), wc AS (SELECT w, count(*) AS wn FROM wds GROUP BY w), g0 AS (SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS repr, wn FROM wc)"""
    val rounds = (1 to k).map { i =>
      val g = s"g${i - 1}"
      raw"""s$i AS (SELECT list_filter(str_split(repr, ' '), s -> s != '') AS t, wn FROM $g), p$i AS (SELECT t, wn, unnest(range(1, len(t))) AS j FROM s$i WHERE len(t) >= 2), m$i AS (SELECT t[j] AS x, t[j + 1] AS y, sum(wn)::BIGINT AS cnt FROM p$i GROUP BY 1, 2 ORDER BY cnt DESC, x ASC, y ASC LIMIT 1), g$i AS (SELECT replace(g.repr, ' ' || m.x || ' ' || m.y || ' ', ' ' || m.x || m.y || ' ') AS repr, g.wn FROM $g g, m$i m)"""
    }
    val sel = (1 to k)
      .map(i => s"SELECT $i::BIGINT AS merge_rank, x AS lhs, y AS rhs, x || y AS merged, cnt AS pair_count FROM m$i")
      .mkString(" UNION ALL ")
    s"WITH $base, ${rounds.mkString(", ")} SELECT * FROM ($sel) ORDER BY merge_rank"
  }

  /** The encode-side replay: the same k unrolled merge rounds as
    * [[bpeMergesOracle]], but each round's vocabulary rewrite keeps the
    * ORIGINAL word alongside its evolving repr (LEFT JOIN + CASE so an
    * early-stopped round leaves the vocabulary intact instead of
    * emptying it), ending in `enc(w, n_bpe)` — every distinct word's
    * true token count, symbol count = delimiter spaces − 1, exactly the
    * Spark projection. Callers append their own corpus-side SELECT.
    */
  private[operators] def bpeEncodeCtes(k: Int): String = {
    val base = raw"""wds AS (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t != '')) AS w FROM documents), wc AS (SELECT w, count(*) AS wn FROM wds GROUP BY w), e0 AS (SELECT w, ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS repr, wn FROM wc)"""
    val rounds = (1 to k).map { i =>
      val g = s"e${i - 1}"
      raw"""t$i AS (SELECT list_filter(str_split(repr, ' '), s -> s != '') AS t, wn FROM $g), q$i AS (SELECT t, wn, unnest(range(1, len(t))) AS j FROM t$i WHERE len(t) >= 2), n$i AS (SELECT t[j] AS x, t[j + 1] AS y, sum(wn)::BIGINT AS cnt FROM q$i GROUP BY 1, 2 ORDER BY cnt DESC, x ASC, y ASC LIMIT 1), e$i AS (SELECT g.w, CASE WHEN m.x IS NULL THEN g.repr ELSE replace(g.repr, ' ' || m.x || ' ' || m.y || ' ', ' ' || m.x || m.y || ' ') END AS repr, g.wn FROM $g g LEFT JOIN n$i m ON true)"""
    }
    s"$base, ${rounds.mkString(", ")}, enc AS (SELECT w, (length(repr) - length(replace(repr, ' ', '')) - 1)::BIGINT AS n_bpe FROM e$k)"
  }

  /** Per-doc true-token-count CTE on top of [[bpeEncodeCtes]]:
    * `bpd(doc_id, n_words, bpe_tokens)`. */
  private[operators] def bpePerDocCtes(k: Int): String =
    raw"""${bpeEncodeCtes(k)}, dt AS (SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t != '')) AS w FROM documents), dwc AS (SELECT doc_id, w, count(*) AS c FROM dt GROUP BY doc_id, w), bpd AS (SELECT doc_id, sum(c)::BIGINT AS n_words, sum(c * n_bpe)::BIGINT AS bpe_tokens FROM dwc JOIN enc USING (w) GROUP BY doc_id)"""

  /** DuckDB mirror of Md5PrefixLong offset 0: hex-nibble parse of the
    * first 8 md5 hex chars of `inner`. */
  private def sqlHex32(inner: String): String =
    (1 to 8).map(j =>
      s"((strpos('0123456789abcdef', substr(md5($inner), $j, 1)) - 1)::BIGINT * ${1L << (4 * (8 - j))})")
      .mkString("(", " + ", ")")

  val registry: Seq[Query] = Seq(
    Query("text_tokencount", Corpus,
      raw"""SELECT doc_id, len(string_split_regex(trim(text), '\s+'))::BIGINT AS ws_tokens, len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))::BIGINT AS re_tokens FROM documents ORDER BY doc_id""",
      (s, d) =>
        tokenCount(Tables.documents(s, d).select("doc_id", "text"), "text")
          .select("doc_id", "ws_tokens", "re_tokens")
          .orderBy("doc_id")),

    Query("text_quality", Corpus,
      {
        val alphaR = Stable.sqlRatioRounded("alpha", "ln", 4)
        val punctR = Stable.sqlRatioRounded("punct", "ln", 4)
        val stopR = Stable.sqlRatioRounded("stops", "ntok", 4)
        raw"""WITH c AS (SELECT doc_id, length(text) AS ln, length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha, length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS punct, len(string_split_regex(trim(text), '\s+')) AS ntok, len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ($enIn))) AS stops FROM documents) SELECT doc_id, ln::BIGINT AS n_chars_m, ntok::BIGINT AS n_tokens, $alphaR AS alpha_ratio, $punctR AS punct_ratio, $stopR AS stop_ratio, round($alphaR - $punctR + least($stopR * 2, 0.5), 4) AS quality_score FROM c ORDER BY doc_id"""
      },
      (s, d) =>
        quality(Tables.documents(s, d).select("doc_id", "text"), "text")
          .select("doc_id", "n_chars_m", "n_tokens", "alpha_ratio", "punct_ratio",
            "stop_ratio", "quality_score")
          .orderBy("doc_id")),

    // classifier-gate filtering: fixed-weight linear head over the
    // quality features, thresholded on the logit (theta = 1.7, ~the corpus median)
    Query("text_classifier_gate", Corpus,
      // identical feature CTEs + the identical left-to-right IEEE fold of
      // the linear head; the unrounded logit matches BITWISE (shared fold,
      // SURVEY §6), so no rounding detour is needed
      {
        val alphaR = Stable.sqlRatioRounded("alpha", "ln", 4)
        val punctR = Stable.sqlRatioRounded("punct", "ln", 4)
        val stopR = Stable.sqlRatioRounded("stops", "ntok", 4)
        raw"""WITH c AS (SELECT doc_id, length(text) AS ln, length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha, length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS punct, len(string_split_regex(trim(text), '\s+')) AS ntok, len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ($enIn))) AS stops FROM documents), lg AS (SELECT doc_id, (-0.5) + 2.0 * $alphaR + (-3.0) * $punctR + 1.5 * $stopR + 0.8 * least(ntok / 100.0, 1.0) AS logit FROM c) SELECT doc_id, logit FROM lg WHERE logit >= 1.7 ORDER BY doc_id"""
      },
      (s, d) =>
        classifierFilter(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text",
          wAlpha = 2.0, wPunct = -3.0, wStop = 1.5, wLen = 0.8,
          intercept = -0.5, theta = 1.7)
          .orderBy("doc_id")),

    // TRAIN the filter in-engine: ridge-logistic fit (2 Newton steps on
    // exact integer sums) DISTILLING the fixed-weight gate — y is the
    // committed text_classifier_gate decision, the student sees only
    // the punct-ratio + capped-length features (the cheap subset), and
    // train_acc reports how much of the hand gate the learned filter
    // reproduces. The DCLM/fastText "train the classifier in the
    // pipeline" story without leaving the engine.
    Query("text_classifier_train", Answer,
      // the logit-train replay: identical integer feature quanta, exact
      // HUGEINT normal-equation sums, and the VERBATIM Cramer double tree
      // (generated by the same local builder shape as the Scala solve)
      {
        def m2(p: String, q: String, r: String, z: String) =
          s"($p * $q - $r * $z)"
        // Cramer over names a00..a22 / g0..g2 — mirrors logitTrain.solve
        def solveSql(a: (Int, Int) => String, g: Int => String): Seq[String] = {
          val det = s"(${a(0, 0)} * ${m2(a(1, 1), a(2, 2), a(1, 2), a(2, 1))} - ${a(0, 1)} * ${m2(a(1, 0), a(2, 2), a(1, 2), a(2, 0))} + ${a(0, 2)} * ${m2(a(1, 0), a(2, 1), a(1, 1), a(2, 0))})"
          val d0 = s"(${g(0)} * ${m2(a(1, 1), a(2, 2), a(1, 2), a(2, 1))} - ${a(0, 1)} * ${m2(g(1), a(2, 2), a(1, 2), g(2))} + ${a(0, 2)} * ${m2(g(1), a(2, 1), a(1, 1), g(2))})"
          val d1 = s"(${a(0, 0)} * ${m2(g(1), a(2, 2), a(1, 2), g(2))} - ${g(0)} * ${m2(a(1, 0), a(2, 2), a(1, 2), a(2, 0))} + ${a(0, 2)} * ${m2(a(1, 0), g(2), g(1), a(2, 0))})"
          val d2 = s"(${a(0, 0)} * ${m2(a(1, 1), g(2), g(1), a(2, 1))} - ${a(0, 1)} * ${m2(a(1, 0), g(2), g(1), a(2, 0))} + ${g(0)} * ${m2(a(1, 0), a(2, 1), a(1, 1), a(2, 0))})"
          Seq(s"($d0 / $det)", s"($d1 / $det)", s"($d2 / $det)")
        }
        def sn(i: Int, j: Int) = s"s${math.min(i, j)}${math.max(i, j)}"
        def fv(i: Int) = Seq("10000", "x1", "x2")(i)
        val sums1 = (for (i <- 0 to 2; j <- i to 2)
          yield s"sum(${fv(i)} * ${fv(j)})::DOUBLE AS ${sn(i, j)}") ++
          (0 to 2).map(i => s"sum((2 * y - 1) * ${fv(i)})::DOUBLE AS g$i")
        def diag(i: Int, j: Int, base: String) =
          // CAST keeps the verbatim double tree: bare 0.01 is DECIMAL in
          // DuckDB ((0.01*n) = exact n/100 rounded once) while Spark's
          // lit(0.01)*n multiplies two doubles — 1-ulp apart for some n
          if (i == j) s"($base + (CAST(0.01 AS DOUBLE) * n))" else base
        val b1s = solveSql((i, j) => diag(i, j, s"(0.25 * (${sn(i, j)} / 100000000.0))"), i => s"(g$i / 20000.0)")
        val sums2 = (for (i <- 0 to 2; j <- i to 2)
          yield s"sum(wq * ${fv(i)} * ${fv(j)})::DOUBLE AS ${sn(i, j)}") ++
          (0 to 2).map(i => s"sum((y * 1000000 - pq) * ${fv(i)})::DOUBLE AS g$i")
        val ds = solveSql((i, j) => diag(i, j, s"(${sn(i, j)} / 100000000000000.0)"), i => s"((g$i / 10000000000.0) - (CAST(0.01 AS DOUBLE) * n) * b$i)")
        def tOf(b: String): String =
          s"(${b}0 + ${b}1 * (x1 / 10000.0) + ${b}2 * (x2 / 10000.0))"
        val alphaR = Stable.sqlRatioRounded("alpha", "ln", 4)
        val punctR = Stable.sqlRatioRounded("punct", "ln", 4)
        val stopR = Stable.sqlRatioRounded("stops", "ntok", 4)
        raw"""WITH f AS (SELECT CASE WHEN (-0.5) + 2.0 * $alphaR + (-3.0) * $punctR + 1.5 * $stopR + 0.8 * least(ntok / 100.0, 1.0) >= 1.7 THEN 1 ELSE 0 END AS y, (20000 * punct + ln) // (2 * ln) AS x1, least(ntok, 100) * 100 AS x2 FROM (SELECT greatest(length(text), 1) AS ln, length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha, length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS punct, greatest(len(string_split_regex(trim(text), '\s+')), 1) AS ntok, len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ($enIn))) AS stops FROM documents)), """ +
          s"""i1 AS (SELECT count(*) AS n, sum(y) AS n_pos, ${sums1.mkString(", ")} FROM f), """ +
          s"""bb1 AS (SELECT n, n_pos, ${b1s(0)} AS b0, ${b1s(1)} AS b1, ${b1s(2)} AS b2 FROM i1), """ +
          s"""sc AS (SELECT f.y, f.x1, f.x2, bb1.n, bb1.n_pos, bb1.b0, bb1.b1, bb1.b2, (floor(1000000.0 / (1.0 + exp(-${tOf("b")})))) ::BIGINT AS pq FROM f CROSS JOIN bb1), """ +
          s"""sc2 AS (SELECT *, (pq * (1000000 - pq)) // 1000000 AS wq FROM sc), """ +
          s"""i2 AS (SELECT n, n_pos, b0, b1, b2, ${sums2.mkString(", ")} FROM sc2 GROUP BY n, n_pos, b0, b1, b2), """ +
          s"""bb2 AS (SELECT n, n_pos, b0 + ${ds(0)} AS c0, b1 + ${ds(1)} AS c1, b2 + ${ds(2)} AS c2 FROM i2), """ +
          s"""ht AS (SELECT bb2.n, bb2.n_pos, bb2.c0, bb2.c1, bb2.c2, sum(CASE WHEN (CASE WHEN floor(${tOf("c")} * 1000000.0) > 0 THEN 1 ELSE 0 END) = f.y THEN 1 ELSE 0 END) AS nh FROM f CROSS JOIN bb2 GROUP BY bb2.n, bb2.n_pos, bb2.c0, bb2.c1, bb2.c2) """ +
          s"""SELECT n::BIGINT AS n, n_pos::BIGINT AS n_pos, round(c0, 4) AS b0, round(c1, 4) AS b1, round(c2, 4) AS b2, ${graft.operators.Stable.sqlRatioRounded("nh", "n", 4)} AS train_acc FROM ht"""
      },
      (s, d) => {
        val doc = Tables.documents(s, d)
        val t = col("text")
        val toks = tokens(t)
        val feats0 = doc.select(
          greatest(length(t), lit(1)).cast("long").as("ln"),
          length(regexp_replace(t, "[^a-zA-Z]", "")).cast("long").as("alpha"),
          length(regexp_replace(t, "[a-zA-Z0-9\\s]", "")).cast("long").as("punct"),
          greatest(size(toks), lit(1)).cast("long").as("ntok"),
          hitCount(toks, stopEn).cast("long").as("stops"))
        // teacher = the gate's exact logit expression (same rounded
        // ratios); student features are 1e4-scaled integers
        val teacher = lit(-0.5) +
          lit(2.0) * Stable.ratioRounded(col("alpha"), col("ln"), 4) +
          lit(-3.0) * Stable.ratioRounded(col("punct"), col("ln"), 4) +
          lit(1.5) * Stable.ratioRounded(col("stops"), col("ntok"), 4) +
          lit(0.8) * least(col("ntok").cast("double") / 100.0, lit(1.0))
        val feats = feats0.select(
          (teacher >= 1.7).cast("long").as("y"),
          expr("(20000 * punct + ln) div (2 * ln)").as("x1"),
          (least(col("ntok"), lit(100L)) * 100L).as("x2"))
        logitTrain(feats, col("y"), col("x1"), col("x2"))
      }),

    // the k-feature widening (r15): same distilled-gate teacher, but
    // the student sees the FULL fastText-class feature set — alpha /
    // punct / stopword / digit ratios + capped length, 5 features +
    // intercept solved by generated Gauss elimination (the 3×3 Cramer
    // ceiling removed); same bit-reproducible two-step IRLS contract
    Query("text_classifier_train_k", Answer,
      // the k-feature replay: the SAME generated Gauss-elimination step
      // texts the Scala side evaluates (trainKSolve1/2 — verbatim double
      // tree by construction), chained as one-row CTE layers; sums are
      // exact HUGEINT, features identical integer quanta
      {
        val k = 5
        val m = k + 1
        def fv(i: Int) = if (i == 0) "10000" else s"x$i"
        val sums1 = (for (i <- 0 until m; j <- i until m)
          yield s"sum(${fv(i)} * ${fv(j)})::DOUBLE AS ${trainKSn(i, j)}") ++
          (0 until m).map(i => s"sum((2 * y - 1) * ${fv(i)})::DOUBLE AS g$i")
        val sums2 = (for (i <- 0 until m; j <- i until m)
          yield s"sum(wq * ${fv(i)} * ${fv(j)})::DOUBLE AS ${trainKSn(i, j)}") ++
          (0 until m).map(i => s"sum((y * 1000000 - pq) * ${fv(i)})::DOUBLE AS g$i")
        val (ctes1, last1) = layersSql("i1", "t1_", trainKSolve1(m))
        val (ctes2, last2) = layersSql("i2", "t2_", trainKSolve2(m))
        val tS = trainKTS(k)
        val bCols = (0 until m).map(i => s"b$i").mkString(", ")
        val xCols = (1 to k).map(i => s"f.x$i").mkString(", ")
        val alphaR = Stable.sqlRatioRounded("alpha", "ln", 4)
        val punctR = Stable.sqlRatioRounded("punct", "ln", 4)
        val stopR = Stable.sqlRatioRounded("stops", "ntok", 4)
        raw"""WITH f AS (SELECT CASE WHEN (-0.5) + 2.0 * $alphaR + (-3.0) * $punctR + 1.5 * $stopR + 0.8 * least(ntok / 100.0, 1.0) >= 1.7 THEN 1 ELSE 0 END AS y, (20000 * alpha + ln) // (2 * ln) AS x1, (20000 * punct + ln) // (2 * ln) AS x2, (20000 * stops + ntok) // (2 * ntok) AS x3, least(ntok, 100) * 100 AS x4, (20000 * digits + ln) // (2 * ln) AS x5 FROM (SELECT greatest(length(text), 1) AS ln, length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha, length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS punct, length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits, greatest(len(string_split_regex(trim(text), '\s+')), 1) AS ntok, len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ($enIn))) AS stops FROM documents)), """ +
          s"""i1 AS (SELECT count(*) AS n, sum(y) AS n_pos, ${sums1.mkString(", ")} FROM f), """ +
          s"""$ctes1, bb1 AS (SELECT n, n_pos, $bCols FROM $last1), """ +
          s"""sc AS (SELECT f.y, $xCols, bb1.n, bb1.n_pos, $bCols, CAST(floor(1000000.0 / (1.0 + exp(-$tS))) AS BIGINT) AS pq FROM f CROSS JOIN bb1), """ +
          s"""sc2 AS (SELECT *, (pq * (1000000 - pq)) // 1000000 AS wq FROM sc), """ +
          s"""i2 AS (SELECT n, n_pos, $bCols, ${sums2.mkString(", ")} FROM sc2 GROUP BY n, n_pos, $bCols), """ +
          s"""$ctes2, bb2 AS (SELECT n, n_pos, ${(0 until m).map(i => s"b$i + d$i AS b$i").mkString(", ")} FROM $last2), """ +
          s"""ht AS (SELECT bb2.n, bb2.n_pos, $bCols, sum(CASE WHEN (CASE WHEN CAST(floor($tS * 1000000.0) AS BIGINT) > 0 THEN 1 ELSE 0 END) = f.y THEN 1 ELSE 0 END) AS nh FROM f CROSS JOIN bb2 GROUP BY bb2.n, bb2.n_pos, $bCols) """ +
          s"""SELECT n::BIGINT AS n, n_pos::BIGINT AS n_pos, ${(0 until m).map(i => s"round(b$i, 4) AS b$i").mkString(", ")}, ${graft.operators.Stable.sqlRatioRounded("nh", "n", 4)} AS train_acc FROM ht"""
      },
      (s, d) => {
        val doc = Tables.documents(s, d)
        val t = col("text")
        val toks = tokens(t)
        val feats0 = doc.select(
          greatest(length(t), lit(1)).cast("long").as("ln"),
          length(regexp_replace(t, "[^a-zA-Z]", "")).cast("long").as("alpha"),
          length(regexp_replace(t, "[a-zA-Z0-9\\s]", "")).cast("long").as("punct"),
          length(regexp_replace(t, "[^0-9]", "")).cast("long").as("digits"),
          greatest(size(toks), lit(1)).cast("long").as("ntok"),
          hitCount(toks, stopEn).cast("long").as("stops"))
        val teacher = lit(-0.5) +
          lit(2.0) * Stable.ratioRounded(col("alpha"), col("ln"), 4) +
          lit(-3.0) * Stable.ratioRounded(col("punct"), col("ln"), 4) +
          lit(1.5) * Stable.ratioRounded(col("stops"), col("ntok"), 4) +
          lit(0.8) * least(col("ntok").cast("double") / 100.0, lit(1.0))
        val feats = feats0.select(
          (teacher >= 1.7).cast("long").as("y"),
          expr("(20000 * alpha + ln) div (2 * ln)").as("x1"),
          expr("(20000 * punct + ln) div (2 * ln)").as("x2"),
          expr("(20000 * stops + ntok) div (2 * ntok)").as("x3"),
          (least(col("ntok"), lit(100L)) * 100L).as("x4"),
          expr("(20000 * digits + ln) div (2 * ln)").as("x5"))
        logitTrainK(feats, col("y"),
          Seq(col("x1"), col("x2"), col("x3"), col("x4"), col("x5")))
      }),

    // 3-epoch anneal: epoch 1 sees everything, epoch 3 keeps 10% low /
    // 50% mid / all high — band thresholds fixed at the corpus logit
    // terciles (1.55 / 1.8), corpus-independent by contract
    Query("mix_anneal", Corpus,
      // the gate's logit CTEs + fixed-threshold bands + a literal epoch
      // schedule; inclusion replays the (doc_id:epoch) md5 draw
      {
        val alphaR = Stable.sqlRatioRounded("alpha", "ln", 4)
        val punctR = Stable.sqlRatioRounded("punct", "ln", 4)
        val stopR = Stable.sqlRatioRounded("stops", "ntok", 4)
        val draw = (1 to 4).map(j =>
          s"((strpos('0123456789abcdef', substr(md5(b.doc_id::VARCHAR || ':' || ep.epoch::VARCHAR), $j, 1)) - 1)::BIGINT * ${1L << (4 * (4 - j))})")
          .mkString("(", " + ", ")")
        raw"""WITH c AS (SELECT doc_id, length(text) AS ln, length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha, length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS punct, len(string_split_regex(trim(text), '\s+')) AS ntok, len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ($enIn))) AS stops FROM documents), lg AS (SELECT doc_id, (-0.5) + 2.0 * $alphaR + (-3.0) * $punctR + 1.5 * $stopR + 0.8 * least(ntok / 100.0, 1.0) AS logit FROM c), b AS (SELECT doc_id, logit, CASE WHEN logit >= 1.8 THEN 'high' WHEN logit >= 1.55 THEN 'mid' ELSE 'low' END AS band FROM lg), ep(epoch, r_low, r_mid, r_high) AS (VALUES (1, 1.0, 1.0, 1.0), (2, 0.5, 1.0, 1.0), (3, 0.1, 0.5, 1.0)) SELECT b.doc_id, ep.epoch::BIGINT AS epoch, b.band, b.logit FROM b CROSS JOIN ep WHERE $draw < (CASE WHEN b.band = 'high' THEN ep.r_high WHEN b.band = 'mid' THEN ep.r_mid ELSE ep.r_low END) * 65536 ORDER BY doc_id, epoch"""
      },
      (s, d) =>
        mixAnneal(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text",
          wAlpha = 2.0, wPunct = -3.0, wStop = 1.5, wLen = 0.8,
          intercept = -0.5, bandLo = 1.55, bandHi = 1.8,
          schedule = Seq((1L, 1.0, 1.0, 1.0), (2L, 0.5, 1.0, 1.0),
            (3L, 0.1, 0.5, 1.0)))
          .orderBy("doc_id", "epoch")),

    Query("text_repetition", Corpus,
      // tokens via the nonempty-runs contract (list_filter) to match
      // WordNgrams; range(1, len(t)) builds the 2-gram list, range(1,
      // len(t) - 1) the 3-gram list — both empty when the doc is too short
      {
        val d2 = Stable.sqlRatioRounded("tot2 - d2", "tot2", 4)
        val d3 = Stable.sqlRatioRounded("tot3 - d3", "tot3", 4)
        raw"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS t FROM documents), g AS (SELECT doc_id, len(t)::BIGINT AS n_tokens, greatest(len(t) - 1, 0) AS tot2, len(list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS d2, greatest(len(t) - 2, 0) AS tot3, len(list_distinct(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS d3 FROM tk) SELECT doc_id, n_tokens, CASE WHEN tot2 = 0 THEN 0.0 ELSE $d2 END AS dup_2gram_frac, CASE WHEN tot3 = 0 THEN 0.0 ELSE $d3 END AS dup_3gram_frac FROM g ORDER BY doc_id"""
      },
      (s, d) =>
        repetition(Tables.documents(s, d).select("doc_id", "text"), "text")
          .select("doc_id", "n_tokens", "dup_2gram_frac", "dup_3gram_frac")
          .orderBy("doc_id")),

    // BPE pair statistics over the corpus vocabulary (top 256 pairs)
    Query("text_bpe_pairs", Answer,
      // same vocabulary-collapse: word counts once, pairs over DISTINCT words
      raw"""WITH wds AS (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t != '')) AS w FROM documents), wc AS (SELECT w, count(*) AS wn FROM wds GROUP BY w), p AS (SELECT wn, unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair FROM wc WHERE length(w) >= 2) SELECT pair, sum(wn)::BIGINT AS pair_count FROM p GROUP BY pair ORDER BY pair_count DESC, pair ASC LIMIT 256""",
      (s, d) =>
        bpePairCounts(Tables.documents(s, d).select("text"), "text", topK = 256)),

    // the merge LOOP on top: k greedy merges over the vocabulary table
    Query("text_bpe_merges", Answer,
      // the merge loop replayed as k unrolled CTE rounds: each round's
      // argmax (m_i) + greedy delimited-string replace (g_i) — the same
      // " x y " -> " xy " application the Spark loop does
      bpeMergesOracle(bpeMergeK),
      (s, d) =>
        bpeMerges(Tables.documents(s, d).select("text"), "text", k = bpeMergeK)
          .orderBy("merge_rank")),

    // the PRODUCTION trainer: vocabulary pulled to one node once, the
    // k merges sequenced locally — same table as text_bpe_merges (same
    // oracle verbatim), without k sequential Spark jobs
    Query("text_bpe_merges_local", Answer,
      bpeMergesOracle(bpeMergeK),
      (s, d) =>
        bpeMergesLocal(Tables.documents(s, d).select("text"), "text", k = bpeMergeK)
          .orderBy("merge_rank")),

    // ENCODE with the learned merges: true tokenizer token counts per
    // doc. The merge table is a session artifact (trained once, like the
    // ANN indexes); text_bpe_merges above stays deliberately raw-priced.
    Query("text_bpe_encode", Corpus,
      // the merge rounds replayed with the original word carried through,
      // then the (doc, word)-grain map onto the encoded vocabulary
      s"""WITH ${bpePerDocCtes(bpeMergeK)} SELECT doc_id, n_words, bpe_tokens FROM bpd ORDER BY doc_id""",
      (s, d) =>
        bpeEncode(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", mergesFor(s, d))
          .orderBy("doc_id")),

    // CANONICAL-semantics encode against the PUBLIC GPT-2 merge excerpt:
    // the oracle replays the published one-merge-at-a-time lowest-rank-
    // leftmost loop as a recursive CTE over the same external table, so
    // the engine's textbook mode is checked against the ecosystem's
    // algorithm, not against its own trainer
    Query("text_bpe_encode_textbook", Answer,
      // CANONICAL BPE against the PUBLIC GPT-2 excerpt: the published
      // one-merge-at-a-time lowest-rank-leftmost loop as a recursive CTE
      // (equivalent to the per-rank sweep — a merge-created pair always
      // ranks later than the merge that created it); words carry GPT-2's
      // Ġ leading-space marker exactly as the published tokenizer sees
      // space-preceded words
      raw"""WITH RECURSIVE m(r, x, y) AS (SELECT * FROM (VALUES (1, 'Ġ', 't'), (2, 'Ġ', 'a'), (3, 'h', 'e'), (4, 'i', 'n'), (5, 'r', 'e'), (6, 'o', 'n'), (7, 'Ġt', 'he'), (8, 'e', 'r')) v(r, x, y)), wds AS (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t != '')) AS w FROM documents), wc AS (SELECT w, count(*)::BIGINT AS wn FROM wds GROUP BY w), w0 AS (SELECT w, ' ' || regexp_replace('Ġ' || w, '(.)', '\1 ', 'g') AS repr, 0 AS step FROM wc), rec AS (SELECT w, repr, step FROM w0 UNION ALL SELECT w, substr(repr, 1, p - 1) || ' ' || x || y || ' ' || substr(repr, p + 3 + length(x) + length(y)), step + 1 FROM (SELECT r0.w AS w, r0.repr AS repr, r0.step AS step, min_by(m.x, m.r) AS x, min_by(m.y, m.r) AS y, strpos(r0.repr, ' ' || min_by(m.x, m.r) || ' ' || min_by(m.y, m.r) || ' ') AS p FROM rec r0 JOIN m ON strpos(r0.repr, ' ' || m.x || ' ' || m.y || ' ') > 0 GROUP BY r0.w, r0.repr, r0.step)), fin AS (SELECT w, repr AS bpe_repr FROM (SELECT *, row_number() OVER (PARTITION BY w ORDER BY step DESC) rn FROM rec) WHERE rn = 1) SELECT wc.w, wc.wn, f.bpe_repr, (length(f.bpe_repr) - length(replace(f.bpe_repr, ' ', '')) - 1)::BIGINT AS n_bpe FROM fin f JOIN wc ON wc.w = f.w ORDER BY wc.w""",
      (s, d) =>
        bpeEncodeWordsTextbook(Tables.documents(s, d).select("text"), "text",
          gpt2MergesExcerpt)
          .orderBy("w")),

    // crawl ingest: a deterministic HTML wrapping of each doc (nav bar,
    // script, styles, entity-bearing footer) pushed through the
    // tag-strip + line-density extractor — body prose survives,
    // boilerplate lines drop
    Query("text_html_extract", Corpus,
      // identical wrap template + the same three regex stages, entity
      // decode order (&amp; last) and line-density keep in DuckDB
      s"""WITH $htmlOracleCtes SELECT doc_id, array_to_string(kept, chr(10)) AS main_text, len(kept)::BIGINT AS n_kept, len(lines)::BIGINT AS n_lines FROM k ORDER BY doc_id""",
      (s, d) =>
        htmlExtract(htmlWrapped(Tables.documents(s, d).select("doc_id", "text")),
          "doc_id", "html")
          .orderBy("doc_id")),

    // the crawl-to-corpus story END-TO-END in one plan: wrap → extract →
    // quality-score the EXTRACTED text → gate → exact-dedup the
    // survivors (reps carry their copy count) — extraction feeding the
    // existing quality/dedup chain, not standing beside it
    Query("text_html_pipeline", Corpus,
      // the extract chain feeding the quality formula (identical Stable
      // ratio arithmetic over the EXTRACTED text) and an exact-dedup rep
      // selection of the gate survivors
      {
        val alphaR = Stable.sqlRatioRounded("alpha", "ln", 4)
        val punctR = Stable.sqlRatioRounded("punct", "ln", 4)
        val stopR = Stable.sqlRatioRounded("stops", "ntok", 4)
        raw"""WITH $htmlOracleCtes, x AS (SELECT doc_id, array_to_string(kept, chr(10)) AS text FROM k), c AS (SELECT doc_id, text, length(text) AS ln, length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha, length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS punct, len(string_split_regex(trim(text), '\s+')) AS ntok, len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ($enIn))) AS stops FROM x), q AS (SELECT doc_id, text, round($alphaR - $punctR + least($stopR * 2, 0.5), 4) AS quality_score FROM c), g AS (SELECT doc_id, text, quality_score FROM q WHERE quality_score >= 0.9) SELECT min(doc_id)::BIGINT AS doc_id, min(quality_score) AS quality_score, count(*) AS n_dupes FROM g GROUP BY text ORDER BY doc_id"""
      },
      (s, d) => {
        val ext = htmlExtract(
          htmlWrapped(Tables.documents(s, d).select("doc_id", "text")),
          "doc_id", "html")
        val scored = quality(ext.select(col("doc_id"), col("main_text")), "main_text")
        scored.filter(col("quality_score") >= 0.9)
          .groupBy(col("main_text"))
          .agg(min(struct(col("doc_id"), col("quality_score"))).as("_f"),
            count(lit(1)).as("n_dupes"))
          .select(col("_f.doc_id").as("doc_id"),
            col("_f.quality_score").as("quality_score"), col("n_dupes"))
          .orderBy("doc_id")
      }),

    // OOV rate per doc vs the corpus's own top-1000 terms
    Query("text_oov_rate", Corpus,
      {
        val rate = Stable.sqlRatioRounded(
          "sum(CASE WHEN inv THEN 0 ELSE 1 END)", "count(*)", 4)
        raw"""WITH tk AS (SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t != '')) AS term FROM documents), v AS (SELECT term FROM (SELECT term, count(*) AS tf FROM tk GROUP BY term ORDER BY tf DESC, term ASC LIMIT 1000)), j AS (SELECT t.doc_id, (v.term IS NOT NULL) AS inv FROM tk t LEFT JOIN v ON t.term = v.term) SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(CASE WHEN inv THEN 0 ELSE 1 END)::BIGINT AS n_oov, $rate AS oov_rate FROM j GROUP BY doc_id ORDER BY doc_id"""
      },
      (s, d) =>
        oovRate(Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text",
          vocabK = 1000)
          .orderBy("doc_id")),

    Query("text_ngram_counts", Answer,
      raw"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS t FROM documents), gs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g FROM tk WHERE len(t) >= 2) SELECT g2 AS gram, count(*) AS doc_freq FROM (SELECT unnest(g) AS g2 FROM gs) GROUP BY gram ORDER BY doc_freq DESC, gram ASC LIMIT 100""",
      (s, d) =>
        ngramCounts(Tables.documents(s, d).select("text"), "text", n = 2, topK = 100)),

    Query("text_chunks", Corpus,
      // chunk i covers tokens [i*12+1, i*12+16] (1-based inclusive slices in
      // both engines, truncated at the end); nc mirrors tokenChunks' formula
      raw"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS t FROM documents), c AS (SELECT doc_id, t, CASE WHEN len(t) = 0 THEN 0 ELSE greatest(len(t) - 4 - 1, 0) // 12 + 1 END AS nc FROM tk), u AS (SELECT doc_id, unnest(list_transform(range(0, nc), i -> struct_pack(cid := i, sl := t[i*12+1 : i*12+16]))) AS ch FROM c) SELECT doc_id, ch.cid::BIGINT AS chunk_id, len(ch.sl)::BIGINT AS chunk_tokens, array_to_string(ch.sl, ' ') AS chunk_text FROM u ORDER BY doc_id, chunk_id""",
      (s, d) =>
        tokenChunks(Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text",
          chunkTokens = 16, overlap = 4)
          .orderBy("doc_id", "chunk_id")),

    Query("text_langid", Corpus,
      raw"""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents), $langHitsCte SELECT doc_id, en_hits, es_hits, fr_hits, $langPredSql AS lang_pred FROM h ORDER BY doc_id""",
      (s, d) =>
        langId(Tables.documents(s, d).select("doc_id", "text"), "text")
          .select("doc_id", "en_hits", "es_hits", "fr_hits", "lang_pred")
          .orderBy("doc_id")),

    // langid accuracy audit: the predictor's confusion matrix over a
    // fixture whose text is SYNTHESIZED to match its label (r13; the
    // r12 round honestly reported the corpus's lang column does not
    // track its text, so the old matrix measured label noise, not the
    // classifier). The Web-family formula-fixture contract: labels and
    // text both derive from doc_id, the engine must reach the matrix
    // through the real classifier, and the deterministic contamination
    // classes put KNOWN off-diagonal cells (es→en, fr→es, und→en tie
    // flips at doc_id%15/%20 density) on the oracle path while the
    // diagonal stays dominant — a langid regression MOVES this matrix.
    // Answer-sized (|langs|² cells) at any corpus size.
    Query("text_langid_eval", Answer,
      // composed audit: the fixture formula (label-aligned synthesized
      // text, see synthesizeLangDocs) feeds the SAME langid replay the
      // text_langid oracle states, so the audit cannot drift from the
      // predictor it audits, and the matrix measures the CLASSIFIER,
      // not the corpus's label noise (r13)
      raw"""WITH ld AS (SELECT doc_id,
         |  CASE doc_id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'es' WHEN 2 THEN 'fr' ELSE 'und' END AS lang,
         |  trim(
         |    CASE doc_id % 4
         |      WHEN 0 THEN CASE doc_id % 3 WHEN 0 THEN 'the' WHEN 1 THEN 'the and' ELSE 'the and of' END
         |      WHEN 1 THEN CASE doc_id % 3 WHEN 0 THEN 'el' WHEN 1 THEN 'el que' ELSE 'el que los' END
         |      WHEN 2 THEN CASE doc_id % 3 WHEN 0 THEN 'le' WHEN 1 THEN 'le et' ELSE 'le et les' END
         |      ELSE '' END
         |    || ' tok' || (doc_id % 7)::VARCHAR || ' zz' || (doc_id % 11)::VARCHAR
         |    || CASE WHEN doc_id % 5 = 0 THEN
         |         CASE doc_id % 4 WHEN 0 THEN ' el' WHEN 1 THEN ' the' WHEN 2 THEN ' el' ELSE ' the' END
         |       ELSE '' END) AS text
         |  FROM documents),
         |t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM ld),
         |$langHitsCte,
         |p AS (SELECT doc_id, $langPredSql AS lang_pred FROM h)
         |SELECT d.lang, p.lang_pred, count(*) AS n FROM p JOIN ld d USING (doc_id)
         |GROUP BY d.lang, p.lang_pred ORDER BY lang, lang_pred""".stripMargin,
      (s, d) => {
        val fix = synthesizeLangDocs(Tables.documents(s, d), "doc_id")
        langId(fix.select("doc_id", "text"), "text")
          .select("doc_id", "lang_pred")
          .join(fix.select("doc_id", "lang"), "doc_id")
          .groupBy("lang", "lang_pred")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "lang_pred")
      }),

    Query("text_fingerprint", Corpus,
      raw"""SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(lower(text)), '\s+'))), ' ')) AS fp FROM documents ORDER BY doc_id""",
      (s, d) =>
        fingerprint(Tables.documents(s, d).select("doc_id", "text"), "text")
          .select("doc_id", "fp")
          .orderBy("doc_id")),

    Query("dedup_exact", Corpus,
      raw"""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dupes FROM documents GROUP BY md5(text) ORDER BY keep_id""",
      (s, d) =>
        dedupExact(Tables.documents(s, d), "doc_id", "text")
          .select("content_hash", "keep_id", "n_dupes")
          .orderBy("keep_id")),

    Query("dedup_normalized", Corpus,
      raw"""SELECT md5(trim(regexp_replace(lower(nfc_normalize(text)), '[^a-z0-9]+', ' ', 'g'))) AS norm_hash, min(doc_id) AS keep_id, count(*) AS n_dupes, count(DISTINCT md5(text)) AS n_raw_variants FROM documents GROUP BY 1 ORDER BY keep_id""",
      (s, d) =>
        dedupNormalized(Tables.documents(s, d), "doc_id", "text")
          .select("norm_hash", "keep_id", "n_dupes", "n_raw_variants")
          .orderBy("keep_id")),

    // Unicode NFC normalization (UAX #15) over a multilingual fixture:
    // each doc's prefix is decorated with a DECOMPOSED suffix (combining
    // acute/diaeresis/tilde, Hangul conjoining jamo) chosen by residue;
    // the engine composes via the native quick-check expression and the
    // oracle replays with DuckDB's own nfc_normalize over chr()-built
    // codepoints — two independent Unicode implementations must agree
    // on every composed byte (md5), codepoint count, and changed flag
    Query("text_nfc_normalize", Corpus,
      // DuckDB's own UTF8PROC-backed nfc_normalize over chr()-built
      // decomposed codepoints — an independent Unicode implementation
      // cross-checking the JDK Normalizer byte-for-byte (md5)
      raw"""WITH r AS (SELECT doc_id, substring(text, 1, 24) ||
        |  CASE doc_id % 4
        |    WHEN 0 THEN ' cafe' || chr(769)
        |    WHEN 1 THEN ' u' || chr(776) || 'ber'
        |    WHEN 2 THEN ' espan' || chr(771) || 'ol'
        |    ELSE ' ' || chr(4370) || chr(4449) || chr(4523) || chr(4352) || chr(4467) || chr(4527)
        |  END AS raw FROM documents)
        |SELECT doc_id, length(raw)::BIGINT AS raw_len,
        |  length(nfc_normalize(raw))::BIGINT AS nfc_len,
        |  md5(nfc_normalize(raw)) AS nfc_md5,
        |  (raw <> nfc_normalize(raw))::BIGINT AS changed
        |FROM r ORDER BY doc_id""".stripMargin,
      (s, d) => {
        // explicit \uXXXX escapes so the fixture is decomposed BY
        // CONSTRUCTION (a composed literal would make the query a no-op)
        val suffix = element_at(array(
          lit(" cafe\u0301"),        // e + COMBINING ACUTE
          lit(" u\u0308ber"),        // u + COMBINING DIAERESIS
          lit(" espan\u0303ol"),     // n + COMBINING TILDE
          lit(" \u1112\u1161\u11ab\u1100\u1173\u11af")), // hangul jamo
          (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
        Tables.documents(s, d)
          .select(col("doc_id").cast("bigint").as("doc_id"),
            concat(substring(col("text"), 1, 24), suffix).as("raw"))
          .select(col("doc_id"), col("raw"),
            graft.functions.GraftFunctions.unicodeNormalize(col("raw"), "NFC")
              .as("nfc_text"))
          .select(col("doc_id"),
            length(col("raw")).cast("bigint").as("raw_len"),
            length(col("nfc_text")).cast("bigint").as("nfc_len"),
            md5(col("nfc_text")).as("nfc_md5"),
            (col("raw") =!= col("nfc_text")).cast("bigint").as("changed"))
          .orderBy("doc_id")
      }),

    // mojibake repair: the native sloppy-cp1252 round-trip vs the
    // literal table — single, double and emoji mojibake repair; clean
    // ASCII passes through with rounds=0
    Query("text_fix_mojibake", Corpus,
      // literal-table replay: the engine must REACH the repaired literal
      // through the real round-trip; the oracle only restates the table
      {
        def sq(s: String) = s.replace("'", "''")
        val n = mojiVariants.length
        val rawCase = mojiVariants.zipWithIndex
          .map { case ((r, _, _), i) => s"WHEN $i THEN '${sq(r)}'" }.mkString(" ")
        val fixCase = mojiVariants.zipWithIndex
          .map { case ((_, f, _), i) => s"WHEN $i THEN '${sq(f)}'" }.mkString(" ")
        val rndCase = mojiVariants.zipWithIndex
          .map { case ((_, _, k), i) => s"WHEN $i THEN $k" }.mkString(" ")
        s"SELECT doc_id, 'Doc ' || CAST(doc_id AS VARCHAR) || ': ' || (CASE doc_id % $n $rawCase END) AS raw, " +
          s"'Doc ' || CAST(doc_id AS VARCHAR) || ': ' || (CASE doc_id % $n $fixCase END) AS fixed, " +
          s"CAST(CASE doc_id % $n $rndCase END AS INTEGER) AS rounds " +
          "FROM documents ORDER BY doc_id"
      },
      (s, d) => {
        val v = pmod(col("doc_id"), lit(mojiVariants.length)).cast("int")
        val raw = concat(lit("Doc "), col("doc_id").cast("string"), lit(": "),
          element_at(array(mojiVariants.map(t => lit(t._1)): _*), v + 1))
        Tables.documents(s, d)
          .select(col("doc_id").cast("bigint").as("doc_id"), raw.as("raw"))
          .select(col("doc_id"), col("raw"),
            graft.functions.GraftFunctions.fixMojibake(col("raw")).as("r"))
          .select(col("doc_id"), col("raw"),
            col("r.fixed").as("fixed"), col("r.rounds").as("rounds"))
          .orderBy("doc_id")
      }),

    // Dice-scored adjacent-token collocations, count floor 5, top 100
    Query("text_collocations", Answer,
      {
        val dice = Stable.sqlRatioRounded("2 * pair_count", "c1 + c2", 4)
        raw"""WITH tk AS (SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t != '') AS t FROM documents), uc AS (SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w), bi AS (SELECT t[i-1] AS w1, t[i] AS w2 FROM (SELECT t, unnest(range(2, len(t) + 1)) AS i FROM tk WHERE len(t) >= 2)), bc AS (SELECT w1, w2, count(*) AS pair_count FROM bi GROUP BY w1, w2 HAVING count(*) >= 5), j AS (SELECT b.w1, b.w2, b.pair_count, u1.c AS c1, u2.c AS c2 FROM bc b JOIN uc u1 ON b.w1 = u1.w JOIN uc u2 ON b.w2 = u2.w) SELECT w1, w2, pair_count, $dice AS dice FROM j ORDER BY dice DESC, w1 ASC, w2 ASC LIMIT 100"""
      },
      (s, d) =>
        collocations(Tables.documents(s, d).select("text"), "text",
          minCount = 5L, topK = 100)),

    // corpus-trained bigram LM score (the perplexity-filter stand-in)
    Query("text_lm_score", Corpus,
      // same two-pass shape: bigram model CTEs, then per-doc quantized sums
      raw"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t != '') AS t FROM documents), uc AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w), vv AS (SELECT count(*) AS v FROM uc), db AS (SELECT doc_id, t[i-1] AS w1, t[i] AS w2 FROM (SELECT doc_id, t, unnest(range(2, len(t) + 1)) AS i FROM tk WHERE len(t) >= 2)), bc AS (SELECT w1, w2, count(*) AS c12 FROM db GROUP BY w1, w2), s AS (SELECT db.doc_id, CAST(floor(ln((bc.c12 + 1)::DOUBLE / (uc.c1 + vv.v)::DOUBLE) * 10000) AS BIGINT) AS li FROM db JOIN bc USING (w1, w2) JOIN uc ON db.w1 = uc.w CROSS JOIN vv) SELECT doc_id, sum(li)::BIGINT AS logp_q4, count(*) AS n_bigrams, sum(li)::DOUBLE / (count(*)::DOUBLE * 10000.0) AS avg_logp FROM s GROUP BY doc_id ORDER BY doc_id""",
      (s, d) =>
        lmScore(Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text")
          .orderBy("doc_id")),

    // doc-frequency of repeated sentences over the same punctuated
    // derivation — the strip-before-tokenize boilerplate report
    Query("text_boilerplate", Answer,
      raw"""WITH d2 AS (SELECT doc_id, regexp_replace(text, ' table ', ' table. ', 'g') AS text FROM documents), sp AS (SELECT doc_id, list_filter(list_transform(string_split_regex(text, '[.!?]+(\s+|$$)'), s -> trim(s)), s -> s != '') AS ss FROM d2), ds AS (SELECT DISTINCT doc_id, unnest(ss) AS sentence FROM sp) SELECT sentence, count(*) AS n_docs FROM ds GROUP BY sentence HAVING count(*) >= 2 ORDER BY n_docs DESC, sentence ASC LIMIT 100""",
      (s, d) =>
        boilerplate(Tables.documents(s, d)
            .select(col("doc_id"),
              regexp_replace(col("text"), " table ", " table. ").as("text")),
          "doc_id", "text", minDocs = 2L, topK = 100)),

    // the corpus is unpunctuated word soup, so the query derives a
    // deterministically punctuated column first (same rewrite in the
    // oracle) — the segmenter itself is what's under test
    Query("text_sentences", Corpus,
      raw"""WITH d2 AS (SELECT doc_id, regexp_replace(text, ' table ', ' table. ', 'g') AS text FROM documents), sp AS (SELECT doc_id, list_filter(list_transform(string_split_regex(text, '[.!?]+(\s+|$$)'), s -> trim(s)), s -> s != '') AS ss FROM d2) SELECT doc_id, (i - 1)::BIGINT AS sent_idx, ss[i] AS sentence, len(string_split_regex(trim(ss[i]), '\s+'))::BIGINT AS n_tokens FROM (SELECT doc_id, ss, unnest(range(1, len(ss) + 1)) AS i FROM sp) ORDER BY doc_id, sent_idx""",
      (s, d) =>
        sentences(Tables.documents(s, d)
            .select(col("doc_id"),
              regexp_replace(col("text"), " table ", " table. ").as("text")),
          "doc_id", "text")
          .orderBy("doc_id", "sent_idx")),

    // sentence-level dedup with removal over the same punctuated column:
    // repeated sentences survive only in their lowest-id doc
    Query("text_dedup_sentences", Corpus,
      // the text_sentences split, a (sentence -> df, first_doc) agg over
      // distinct pairs, keep-first filter, ordered re-concat
      raw"""WITH d2 AS (SELECT doc_id, regexp_replace(text, ' table ', ' table. ', 'g') AS text FROM documents), sp AS (SELECT doc_id, list_filter(list_transform(string_split_regex(text, '[.!?]+(\s+|$$)'), s -> trim(s)), s -> s != '') AS ss FROM d2), s AS (SELECT doc_id, (i - 1)::BIGINT AS sent_idx, ss[i] AS sentence FROM (SELECT doc_id, ss, unnest(range(1, len(ss) + 1)) AS i FROM sp)), ds AS (SELECT DISTINCT doc_id, sentence FROM s), fr AS (SELECT sentence, count(*) AS n_docs, min(doc_id) AS first_doc FROM ds GROUP BY sentence HAVING count(*) >= 2), k AS (SELECT s.doc_id, s.sent_idx, s.sentence, (fr.sentence IS NULL OR s.doc_id = fr.first_doc) AS keep FROM s LEFT JOIN fr USING (sentence)), agg AS (SELECT doc_id, count(*) AS n_sents, sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept, coalesce(string_agg(CASE WHEN keep THEN sentence END, '. ' ORDER BY sent_idx), '') AS clean_text FROM k GROUP BY doc_id) SELECT d.doc_id, coalesce(a.n_sents, 0)::BIGINT AS n_sents, coalesce(a.n_kept, 0)::BIGINT AS n_kept, coalesce(a.clean_text, '') AS clean_text FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""",
      (s, d) =>
        dedupSentences(Tables.documents(s, d)
            .select(col("doc_id"),
              regexp_replace(col("text"), " table ", " table. ").as("text")),
          "doc_id", "text")
          .orderBy("doc_id")),

    // the ExactSubstr pass (Lee et al. 2022): every >=8-token span
    // duplicated anywhere in the corpus (cross-doc or within-doc) is
    // removed everywhere except its first (doc, pos) occurrence, and
    // each doc's surviving tokens reassemble into a cleaned corpus
    Query("text_dedup_spans_removal", Corpus,
      // the ExactSubstr replay: 8-gram occurrences keyed by md5 of the
      // chr(31)-joined window, first (doc, pos) per gram via row_number,
      // non-first occurrences explode their covered positions, tokens
      // LEFT JOIN the cover and re-concat in position order
      raw"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS t FROM documents), kg AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+7], chr(31))) AS g FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i FROM tk WHERE len(t) >= 8)), rm AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn FROM kg) WHERE rn > 1), cov AS (SELECT DISTINCT doc_id, tpos FROM (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS tpos FROM rm)), tok AS (SELECT doc_id, i - 1 AS tpos, t[i] AS token FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tk)), ag AS (SELECT t.doc_id, count(*) AS n_tokens, sum(CASE WHEN c.tpos IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_removed, coalesce(string_agg(CASE WHEN c.tpos IS NULL THEN t.token END, ' ' ORDER BY t.tpos), '') AS clean_text FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos GROUP BY t.doc_id) SELECT k.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens, coalesce(a.n_removed, 0)::BIGINT AS n_removed, coalesce(a.clean_text, '') AS clean_text FROM tk k LEFT JOIN ag a USING (doc_id) ORDER BY k.doc_id""",
      (s, d) =>
        dedupSpansRemoval(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", k = 8)
          .orderBy("doc_id")),

    // events.props carries digits, so the mask is non-vacuous there
    Query("text_pii_mask", Corpus,
      raw"""SELECT event_id, regexp_replace(regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'), '[0-9]+', '<NUM>', 'g') AS masked FROM events ORDER BY event_id""",
      (s, d) =>
        piiMask(Tables.events(s, d).select("event_id", "props"), "props", "masked")
          .select("event_id", "masked")
          .orderBy("event_id")),

    Query("text_winnow_fingerprint", Corpus,
      s"""WITH hs AS (SELECT doc_id, CASE WHEN length(text) >= 8 THEN list_transform(range(1, length(text) - 6), i -> ${sqlHex32("substr(text, i, 8)")}) ELSE []::BIGINT[] END AS hl FROM documents), wn AS (SELECT doc_id, CASE WHEN len(hl) >= 4 THEN list_distinct(list_transform(range(1, len(hl) - 2), j -> list_min(hl[j:j+3]))) ELSE []::BIGINT[] END AS fps FROM hs) SELECT doc_id, md5(array_to_string(list_sort(fps), ',')) AS doc_fp, len(fps)::BIGINT AS n_fps FROM wn ORDER BY doc_id""",
      (s, d) =>
        winnowFingerprint(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", k = 8, w = 4)
          .select("doc_id", "doc_fp", "n_fps")
          .orderBy("doc_id")),

    Query("text_tfidf_top", Corpus,
      raw"""WITH p AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term FROM documents), tf AS (SELECT doc_id, term, count(*) AS tf FROM p GROUP BY doc_id, term), dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), nn AS (SELECT count(*) AS n FROM documents), s AS (SELECT tf.doc_id, tf.term, round(tf.tf * ln(1.0 + nn.n / dfq.df), 4) AS tfidf FROM tf JOIN dfq USING (term) CROSS JOIN nn), r AS (SELECT doc_id, term, tfidf, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank FROM s) SELECT doc_id, term, tfidf, rank FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",
      (s, d) =>
        tfIdfTop(Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text", k = 3)
          .orderBy("doc_id", "rank")),

    // ranked retrieval: top-20 docs for a 3-term query, Okapi BM25
    Query("text_bm25_search", Answer,
      // identical floor-quantized arithmetic; same literal constants
      // (2.2 = k1+1, 0.25 = 1-b) and the same association order
      raw"""WITH tk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents), dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM tk), st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS total_dl FROM dl), tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM (SELECT doc_id, unnest(t) AS term FROM tk) WHERE term IN ('spark', 'merge', 'window') GROUP BY doc_id, term), dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term), sc AS (SELECT tf.doc_id, floor(10000.0 * ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl * st.n)::DOUBLE / st.total_dl)))::BIGINT AS cq4 FROM tf JOIN dfq USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st) SELECT doc_id, count(*)::BIGINT AS n_terms_hit, sum(cq4)::BIGINT AS bm25_q4, sum(cq4) / 10000.0 AS bm25 FROM sc GROUP BY doc_id ORDER BY bm25_q4 DESC, doc_id ASC LIMIT 20""",
      (s, d) =>
        bm25Search(Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text",
          queryTerms = Seq("spark", "merge", "window"), topK = 20)),

    // context-window packing: docs laid end-to-end per shard (doc_id % 8),
    // 2048-token windows; each doc reports its pack and offset
    Query("text_pack_sequences", Corpus,
      raw"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard, len(string_split_regex(trim(text), '\s+'))::BIGINT AS ws_tokens FROM documents), c AS (SELECT doc_id, shard, ws_tokens, sum(ws_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ws_tokens AS cum FROM t) SELECT doc_id, shard, ws_tokens, (cum // 2048)::BIGINT AS pack_id, (cum % 2048)::BIGINT AS pack_offset FROM c ORDER BY doc_id""",
      (s, d) => {
        val t = tokenCount(Tables.documents(s, d).select("doc_id", "text"), "text")
          .withColumn("shard", pmod(col("doc_id"), lit(8L)))
          .select("doc_id", "shard", "ws_tokens")
        packSequences(t, idCol = "doc_id", shardCol = "shard",
          tokensCol = "ws_tokens", budget = 2048L)
          .select("doc_id", "shard", "ws_tokens", "pack_id", "pack_offset")
          .orderBy("doc_id")
      }),

    // packing denominated in TRUE tokenizer tokens: the learned-merge
    // encode feeds the same shard-local prefix-sum packer, so window
    // budgets mean what the training job thinks they mean
    Query("text_pack_bpe", Corpus,
      // the bpe per-doc counts through the same shard-local prefix-sum
      // packer as text_pack_sequences
      s"""WITH ${bpePerDocCtes(bpeMergeK)}, pt AS (SELECT doc_id, doc_id % 8 AS shard, bpe_tokens FROM bpd), pc AS (SELECT doc_id, shard, bpe_tokens, sum(bpe_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bpe_tokens AS cum FROM pt) SELECT doc_id, shard, bpe_tokens, (cum // 2048)::BIGINT AS pack_id, (cum % 2048)::BIGINT AS pack_offset FROM pc ORDER BY doc_id""",
      (s, d) => {
        val perDoc = bpeEncode(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", mergesFor(s, d))
          .withColumn("shard", pmod(col("doc_id"), lit(8L)))
          .select("doc_id", "shard", "bpe_tokens")
        packSequences(perDoc, idCol = "doc_id", shardCol = "shard",
          tokensCol = "bpe_tokens", budget = 2048L)
          .select("doc_id", "shard", "bpe_tokens", "pack_id", "pack_offset")
          .orderBy("doc_id")
      }),

    // the corpus curator's first query: per (lang, source) composition
    Query("corpus_report", Answer,
      {
        val alphaR = Stable.sqlRatioRounded("alpha", "ln", 4)
        val punctR = Stable.sqlRatioRounded("punct", "ln", 4)
        val stopR = Stable.sqlRatioRounded("stops", "ntok", 4)
        raw"""WITH c AS (SELECT doc_id, source, length(text) AS ln, length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha, length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS punct, len(string_split_regex(trim(text), '\s+')) AS ntok, len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ($enIn))) AS stops, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents), h AS (SELECT source, ntok, round($alphaR - $punctR + least($stopR * 2, 0.5), 4) AS q, len(list_filter(tk, x -> x IN ($enIn))) AS en_hits, len(list_filter(tk, x -> x IN ($esIn))) AS es_hits, len(list_filter(tk, x -> x IN ($frIn))) AS fr_hits FROM c), l AS (SELECT source, ntok, q, CASE WHEN en_hits = 0 AND es_hits = 0 AND fr_hits = 0 THEN 'und' WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en' WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS lang_pred FROM h) SELECT lang_pred, source, count(*) AS n_docs, sum(ntok)::BIGINT AS total_tokens, ${Stable.sqlAvgRounded("q", 4)} AS avg_quality, (count(*) FILTER (WHERE ntok >= 20))::BIGINT AS n_gate_pass FROM l GROUP BY lang_pred, source ORDER BY lang_pred, source"""
      },
      (s, d) =>
        corpusReport(Tables.documents(s, d).select("doc_id", "text", "source"),
          "text", "source", minTokens = 20L)
          .orderBy("lang_pred", "source")),

    // deterministic 50-per-language sample by md5 rank
    Query("sample_stratified", Answer,
      """SELECT doc_id, lang, source FROM (SELECT doc_id, lang, source, row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS rk FROM documents) WHERE rk <= 50 ORDER BY doc_id""",
      (s, d) =>
        sampleStratified(Tables.documents(s, d).select("doc_id", "lang", "source"),
          stratumCol = "lang", idCol = "doc_id", k = 50)
          .orderBy("doc_id")),

    // span-level duplication gate: share of each doc's winnow fingerprints
    // that recur elsewhere in the corpus
    Query("text_dup_spans", Corpus,
      // same winnow CTE as text_winnow_fingerprint (k=8, w=4), then span
      // document frequencies and the per-doc Stable-rounded indicator mean
      s"""WITH hs AS (SELECT doc_id, CASE WHEN length(text) >= 8 THEN list_transform(range(1, length(text) - 6), i -> ${sqlHex32("substr(text, i, 8)")}) ELSE []::BIGINT[] END AS hl FROM documents), wn AS (SELECT doc_id, CASE WHEN len(hl) >= 4 THEN list_distinct(list_transform(range(1, len(hl) - 2), j -> list_min(hl[j:j+3]))) ELSE []::BIGINT[] END AS fps FROM hs), u AS (SELECT doc_id, unnest(fps) AS fp FROM wn), dfs AS (SELECT fp, count(*) AS df FROM u GROUP BY fp), j AS (SELECT u.doc_id, CASE WHEN dfs.df >= 2 THEN 1 ELSE 0 END AS ind FROM u JOIN dfs USING (fp)), per AS (SELECT doc_id, count(*) AS n_fps, sum(ind)::BIGINT AS n_shared, ${Stable.sqlAvgRounded("ind", 4)} AS dup_span_frac FROM j GROUP BY doc_id) SELECT w.doc_id, coalesce(p.n_fps, 0)::BIGINT AS n_fps, coalesce(p.n_shared, 0)::BIGINT AS n_shared, coalesce(p.dup_span_frac, 0.0) AS dup_span_frac FROM wn w LEFT JOIN per p USING (doc_id) ORDER BY doc_id""",
      (s, d) =>
        dupSpanFraction(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", k = 8, w = 4)
          .orderBy("doc_id")),

    // span-level decontamination: share of each corpus doc's winnow
    // fingerprints colliding with the benchmark set (doc_id < 20)
    Query("decon_spans", Corpus,
      // the text_dup_spans winnow CTE split benchmark/corpus: distinct
      // benchmark fps, per-corpus-doc collision count, Stable ratio
      s"""WITH hs AS (SELECT doc_id, CASE WHEN length(text) >= 8 THEN list_transform(range(1, length(text) - 6), i -> ${sqlHex32("substr(text, i, 8)")}) ELSE []::BIGINT[] END AS hl FROM documents), wn AS (SELECT doc_id, CASE WHEN len(hl) >= 4 THEN list_distinct(list_transform(range(1, len(hl) - 2), j -> list_min(hl[j:j+3]))) ELSE []::BIGINT[] END AS fps FROM hs), b AS (SELECT DISTINCT unnest(fps) AS fp FROM wn WHERE doc_id < 20), c AS (SELECT doc_id, fps FROM wn WHERE doc_id >= 20), u AS (SELECT doc_id, unnest(fps) AS fp FROM c), h AS (SELECT u.doc_id, count(*) AS n_hits FROM u JOIN b USING (fp) GROUP BY u.doc_id) SELECT c.doc_id, len(c.fps)::BIGINT AS n_fps, coalesce(h.n_hits, 0)::BIGINT AS n_hits, CASE WHEN len(c.fps) = 0 THEN 0.0 ELSE ${Stable.sqlRatioRounded("coalesce(h.n_hits, 0)", "len(c.fps)", 4)} END AS contam_frac FROM c LEFT JOIN h USING (doc_id) ORDER BY c.doc_id""",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        spanContamination(docs.filter(col("doc_id") >= 20),
          docs.filter(col("doc_id") < 20), "doc_id", "text", k = 8, w = 4)
          .orderBy("doc_id")
      }),

    // stable 80/10/10 train/val/test assignment by content-hash draw
    Query("sample_hash_split", Corpus,
      // the same 4-nibble draw the mix_sources oracle uses; cut arithmetic
      // mirrors Spark's double fold (integer draws never land on the 1e-10
      // cut differences, so 0.8/0.9 literals are safe)
      {
        val draw = (1 to 4).map(j =>
          s"((strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), $j, 1)) - 1)::BIGINT * ${1L << (4 * (4 - j))})")
          .mkString("(", " + ", ")")
        s"""SELECT doc_id, source, CASE WHEN $draw < 0.8 * 65536 THEN 'train' WHEN $draw < 0.9 * 65536 THEN 'val' ELSE 'test' END AS split FROM documents ORDER BY doc_id"""
      },
      (s, d) =>
        hashSplit(Tables.documents(s, d).select("doc_id", "source"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .orderBy("doc_id")),

    // lexical diversity: TTR + Simpson over the per-doc token table
    Query("text_diversity", Corpus,
      {
        val ttr = Stable.sqlRatioRounded("a.distinct_tokens", "a.n_tokens", 4)
        val simpson = Stable.sqlRatioRounded(
          "a.n_tokens * a.n_tokens - a.sq", "a.n_tokens * a.n_tokens", 4)
        raw"""WITH tf AS (SELECT doc_id, t, count(*) AS c FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t FROM documents) u WHERE t != '' GROUP BY doc_id, t), a AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS distinct_tokens, sum(c*c)::BIGINT AS sq FROM tf GROUP BY doc_id) SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens, coalesce(a.distinct_tokens, 0) AS distinct_tokens, coalesce($ttr, 0.0) AS ttr, coalesce($simpson, 0.0) AS simpson FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id"""
      },
      (s, d) =>
        tokenDiversity(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text")
          .orderBy("doc_id")),

    // trim the quality tails: keep the p5-p95 band of quality_score
    Query("text_quality_band", Corpus,
      {
        val alphaR = Stable.sqlRatioRounded("alpha", "ln", 4)
        val punctR = Stable.sqlRatioRounded("punct", "ln", 4)
        val stopR = Stable.sqlRatioRounded("stops", "ntok", 4)
        raw"""WITH c AS (SELECT doc_id, length(text) AS ln, length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha, length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS punct, len(string_split_regex(trim(text), '\s+')) AS ntok, len(list_filter(string_split_regex(trim(text), '\s+'), t -> t IN ($enIn))) AS stops FROM documents), q AS (SELECT doc_id, round($alphaR - $punctR + least($stopR * 2, 0.5), 4) AS quality_score FROM c), p AS (SELECT doc_id, quality_score, round(percent_rank() OVER (ORDER BY quality_score), 6) AS pr FROM q) SELECT doc_id, quality_score, pr FROM p WHERE pr >= 0.05 AND pr <= 0.95 ORDER BY doc_id"""
      },
      (s, d) =>
        qualityBand(
          quality(Tables.documents(s, d).select("doc_id", "text"), "text")
            .select("doc_id", "quality_score"),
          scoreCol = "quality_score", lo = 0.05, hi = 0.95)
          .select("doc_id", "quality_score", "pr")
          .orderBy("doc_id")),

    // The corpus-prep pipeline composed: PII mask -> token-count gate ->
    // language gate -> exact dedup (keep-first) -> fingerprint. One
    // declarative plan; projections fuse, the only shuffle is the dedup
    // group-by. This is the shape of a real pre-training data pass.
    Query("text_pipeline_e2e", Corpus,
      // mirrors the gate-before-mask shape: gates from the raw text, the
      // mask applied only to gate survivors (same invariance argument)
      raw"""WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS tk, string_split_regex(trim(lower(text)), '\s+') AS lt FROM documents), h AS (SELECT doc_id, text, tk, len(list_filter(lt, x -> x IN ($enIn))) AS en_hits, len(list_filter(lt, x -> x IN ($esIn))) AS es_hits, len(list_filter(lt, x -> x IN ($frIn))) AS fr_hits FROM t), g AS (SELECT doc_id, text, len(tk)::BIGINT AS n_tokens FROM h WHERE len(tk) >= 20 AND NOT (en_hits = 0 AND es_hits = 0 AND fr_hits = 0) AND en_hits >= es_hits AND en_hits >= fr_hits), m AS (SELECT doc_id, n_tokens, regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'), '[0-9]+', '<NUM>', 'g') AS clean FROM g), r AS (SELECT doc_id, clean, n_tokens, row_number() OVER (PARTITION BY md5(clean) ORDER BY doc_id) AS rn FROM m) SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(lower(clean)), '\s+'))), ' ')) AS fp, n_tokens FROM r WHERE rn = 1 ORDER BY doc_id""",
      (s, d) => {
        // Gates run on the RAW text, the mask on the survivors: ws_tokens
        // and lang_pred are invariant under the PII mask (the replacements
        // are token-internal — whitespace is never created or destroyed, and
        // a token carrying '<EMAIL>'/'<NUM>' can never equal a stopword), so
        // gating first is the same pipeline with the expensive mask regexes
        // run on the ~9% of docs that pass instead of the whole corpus.
        // (Also ws-count only — tokenCount's second (BPE-regex) count is the
        // most expensive projection in that operator and nothing downstream
        // reads it; a gate should compute exactly what it filters on.)
        val counted = Tables.documents(s, d).select("doc_id", "text")
          .withColumn("ws_tokens", size(tokens(col("text"))).cast("bigint"))
        val gated = piiMask(
          langId(counted, "text")
            .filter(col("ws_tokens") >= 20 && col("lang_pred") === "en"),
          "text", "clean")
        // keep-first per content hash via a window, not groupBy+self-join:
        // one pass (the upstream mask/gate branch would otherwise be
        // recomputed on both sides of the join), one shuffle on the hash
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("clean"))).orderBy(col("doc_id"))
        gated.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .select(col("doc_id"), fingerprintCol(col("clean")).as("fp"),
            col("ws_tokens").as("n_tokens"))
          .orderBy("doc_id")
      })
  )
}
