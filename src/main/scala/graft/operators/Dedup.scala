package graft.operators

import graft.{CacheScope, Fixpoint}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Grain.{Answer, Corpus}
import graft.Query
import graft.Tables

/** Near-duplicate detection for LLM training-data pipelines: MinHash + LSH
  * band bucketing, n-gram Jaccard verification, and SimHash hamming-block
  * near-dup — the dedup stack a 100 TB document corpus needs.
  *
  * Scale design (the whole point): **no all-pairs work anywhere.** Candidate
  * pairs come exclusively from hash-bucket self-joins:
  *   - MinHash: docs agreeing on a full LSH band (r consecutive minhashes)
  *     land in the same bucket; only bucket-mates are paired. P(candidate)
  *     for Jaccard j is 1-(1-j^r)^b — unrelated docs essentially never pair.
  *   - SimHash: a 32-bit signature split into 4 byte-blocks; hamming(h1,h2)
  *     <= 3 pigeonholes at least one equal block, so pairing only within
  *     equal (block_idx, block_value) buckets finds every pair within the
  *     hamming radius without comparing everything to everything.
  * Each stage is explode -> hash-agg (map-side partial min/sum) or a
  * shuffle join on a uniform hash key: linear in corpus size, skew-free.
  *
  * Duplicate-skew proofing (heavy duplication is the EXPECTED input for a
  * dedup operator — a viral doc with m copies agrees on every band/block,
  * so naive bucket pairing does O(m²) work on one hot key):
  *   1. an exact-dedup pre-pass ([[representatives]]) keeps ONE
  *      representative per distinct content before any LSH work — exact
  *      copies never reach a bucket. Consequently the pairs outputs cover
  *      NEAR-duplicates between representatives only: a removal list for
  *      exact copies comes from [[representatives]] / TextOps.dedupExact
  *      (which carry the per-content duplicate count), composed with the
  *      near-dup pairs — the ordering text_pipeline_e2e demonstrates;
  *   2. a deterministic bucket cap ([[capBuckets]]) bounds the residual
  *      near-duplicate floods: only the `cap` lowest-id members of a bucket
  *      pair up, so per-bucket work is <= cap² regardless of skew. The cap
  *      trades recall only inside pathological buckets (members beyond the
  *      cap still pair through their OTHER bands/blocks with probability
  *      1-(1-j^r)^(b-1)), and the same cap is mirrored in the oracle.
  *
  * Portability: every hash is md5 (identical in Spark and DuckDB), so the
  * oracle recomputes signatures/buckets bit-for-bit rather than trusting us.
  */
object Dedup {

  /** Distinct word n-gram shingles of a text column (empty when < n
    * tokens): the native one-byte-scan kernel (graft.functions.WordNgrams),
    * semantically equal to the split/transform/slice/array_join chain.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.wordNgrams(text, n)

  /** Exact-dedup pre-pass: one representative (the min id) per distinct
    * content, with the collapsed duplicate count carried as `n_dupes`.
    * One hash agg on the uniform 128-bit md5 key — map-side partial min,
    * one shuffle, skew-free — and the min is over ONE struct so the
    * representative's (id, text) always come from the same row.
    */
  def representatives(docs: DataFrame, id: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("_ch"))
      .agg(min(struct(col(id), col(textCol))).as("_f"), count(lit(1)).as("n_dupes"))
      .select(col(s"_f.$id").as(id), col(s"_f.$textCol").as(textCol), col("n_dupes"))

  /** Deterministic bucket-size cap: keep the `cap` lowest-id members per
    * bucket. A hot bucket costs one reducer an O(m log m) sort instead of
    * the O(m²) pairing it would otherwise trigger downstream.
    */
  def capBuckets(buckets: DataFrame, bucketCols: Seq[String], id: String,
                 cap: Int): DataFrame = {
    val w = Window.partitionBy(bucketCols.map(col): _*).orderBy(col(id))
    buckets.withColumn("_bn", row_number().over(w))
      .filter(col("_bn") <= cap).drop("_bn")
  }

  /** (id, shingle) pairs, distinct per doc. */
  def explodeShingles(docs: DataFrame, id: String, textCol: String, n: Int): DataFrame =
    docs.select(col(id), explode(shingles(col(textCol), n)).as("sh"))

  /** k-wide MinHash signature per doc. Hashing cost is the dominant term of
    * signature generation, so each md5 yields FOUR 32-bit signature pieces
    * (hex substrings): k hashes need only k/4 md5 calls per shingle (and
    * Spark's subexpression elimination computes each seed's md5 once across
    * its four min aggregates). One groupBy with k partial-agg mins — a
    * single shuffle, no seed explosion.
    */
  def minhashSignatures(docs: DataFrame, id: String, textCol: String,
                        n: Int, k: Int): DataFrame = {
    require(k % 4 == 0, "k must be a multiple of 4 (4 pieces per md5)")
    val sh = explodeShingles(docs, id, textCol, n)
    // native expression: digest bytes -> long, no hex-string round trip.
    // Longs here and the oracle's hex substrings are the same 4 bytes under
    // order-preserving encodings, so min/equality semantics line up.
    val aggs = (0 until k).map { i =>
      val (seed, piece) = (i / 4, i % 4)
      min(graft.functions.GraftFunctions.md5PrefixLong(col("sh"), 4 * piece, s"$seed|")).as(s"mh$i")
    }
    sh.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: one bucket row per (band, signature-slice). Keeps the
    * signature columns on the row so the pair join needs no lookback join.
    */
  def bandBuckets(sig: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val bandKeys = (0 until k / rowsPerBand).map { b =>
      concat_ws("|", lit(b.toString) +:
        (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
    }
    sig.withColumn("band_key", explode(array(bandKeys: _*)))
  }

  /** Candidate pairs (id_a < id_b) sharing >= 1 band, with estimated
    * similarity = fraction of agreeing signature positions. Pairs are
    * between content [[representatives]] (exact copies collapse before any
    * banding) and each band bucket is capped at `bucketCap` members.
    */
  def minhashPairs(docs: DataFrame, id: String, textCol: String,
                   n: Int, k: Int, rowsPerBand: Int,
                   bucketCap: Int = Dedup.defaultBucketCap): DataFrame =
    minhashPairsOfReps(representatives(docs, id, textCol).select(col(id), col(textCol)),
      id, textCol, n, k, rowsPerBand, bucketCap)

  /** [[minhashPairs]] over an ALREADY exact-deduped corpus — callers that
    * also need `representatives` output (components, the e2e pipeline)
    * compute it once and pass it here instead of paying the full-corpus
    * hash-agg a second time.
    */
  def minhashPairsOfReps(reps: DataFrame, id: String, textCol: String,
                         n: Int, k: Int, rowsPerBand: Int,
                         bucketCap: Int = Dedup.defaultBucketCap,
                         prebuiltSigs: Option[DataFrame] = None): DataFrame = {
    // r16 NEGATIVE (measured, reverted): fanning a single-partition
    // checkpointed reps input out before the signature scan (the 400 ms
    // single task on the pipelines' critical path, OPTIMIZATION_r16.md §4)
    // made training_data_e2e ~0.3 s SLOWER back-to-back — the fanned
    // partitioning propagates into the band-bucket window + pair join
    // stages, whose many tiny jobs then each pay 32-task scheduling.
    // Single-task heavy-scan savings < added per-job task overhead at
    // this job cadence.
    val sig = sigsFor(reps, id, textCol, n, k, prebuiltSigs)
    val buckets = capBuckets(
      bandBuckets(sig, k, rowsPerBand),
      Seq("band_key"), id, bucketCap)
    bucketPairJoin(buckets, buckets, id, k, "id_a", "id_b",
      col("id_a") < col("id_b"), broadcastLeft = false)
  }

  /** Signatures for a rep set: computed fresh, or — when a session
    * signature index keyed by content hash is supplied ([[sigsByTextOf]])
    * — pulled by content-hash join, because a MinHash signature is a
    * pure function of the text. The join is reps-sized (narrow id+hash
    * vs hash+k ints); the shingle explode and k/4 md5 calls per shingle
    * — the dominant cost of every LSH chain — happen once per session
    * instead of once per variant. The prebuilt index MUST be built at
    * the same (n, k); the callers pin both to the oracle constants.
    */
  private def sigsFor(reps: DataFrame, id: String, textCol: String,
                      n: Int, k: Int,
                      prebuiltSigs: Option[DataFrame]): DataFrame =
    prebuiltSigs match {
      case Some(sb) =>
        reps.select(col(id), md5(col(textCol)).as("_ch")).join(sb, "_ch").drop("_ch")
      case None => minhashSignatures(reps, id, textCol, n, k)
    }

  /** Shared band-bucket pair join: rename both sides' signatures apart,
    * equi-join on the band key (plus `extraCond`), estimate similarity as
    * the fraction of agreeing signature positions, distinct the pairs.
    * The single body behind the self-join (a < b) and the batch-vs-corpus
    * (broadcast left) variants.
    */
  private def bucketPairJoin(left: DataFrame, right: DataFrame, id: String,
                             k: Int, leftName: String, rightName: String,
                             extraCond: Column,
                             broadcastLeft: Boolean): DataFrame = {
    val a = left.select(col("band_key") +: col(id).as(leftName) +:
      (0 until k).map(i => col(s"mh$i").as(s"a$i")): _*)
    val b = right.select(col("band_key").as("bk2") +: col(id).as(rightName) +:
      (0 until k).map(i => col(s"mh$i").as(s"b$i")): _*)
    val est = (0 until k).map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / k
    (if (broadcastLeft) b.join(broadcast(a), col("band_key") === col("bk2") && extraCond)
     else a.join(b, col("band_key") === col("bk2") && extraCond))
      .select(col(leftName), col(rightName), est.as("est_sim"))
      .distinct()
  }

  /** Ingest-path incremental near-dedup: candidate pairs between a NEW
    * batch and the EXISTING corpus only — the corpus is never paired
    * against itself (that work already happened when it was ingested;
    * see the persisted component index). The batch's band rows (reps ×
    * bands, a few rows per new doc) are BROADCAST, so the corpus-sized
    * side takes no join shuffle at all: at 100 TB the daily increment
    * streams past the corpus bands with map-side hash probes. Only the
    * batch buckets are capped (a hot corpus bucket contributes output
    * linear in its size × the batch cap, never quadratic). At real
    * scale the corpus band table would be a maintained index artifact
    * (built once, appended per ingest) rather than recomputed — the
    * recompute here keeps the oracle exact.
    */
  def incrementalPairs(corpus: DataFrame, batch: DataFrame, id: String,
                       textCol: String, n: Int, k: Int, rowsPerBand: Int,
                       batchCap: Int = Dedup.defaultBucketCap,
                       prebuiltSigs: Option[DataFrame] = None): DataFrame = {
    def bandsOf(docs: DataFrame) = bandBuckets(
      sigsFor(representatives(docs, id, textCol).select(col(id), col(textCol)),
        id, textCol, n, k, prebuiltSigs), k, rowsPerBand)
    bucketPairJoin(capBuckets(bandsOf(batch), Seq("band_key"), id, batchCap),
      bandsOf(corpus), id, k, "batch_id", "corpus_id",
      lit(true), broadcastLeft = true)
  }

  /** LSH candidates verified with BOUNDED edit distance — the
    * character-level verify metric, complementing the token-level n-gram
    * Jaccard verify: it catches in-word mutations (typos, OCR damage,
    * diffing URLs) that whitespace shingles blur. Same scale contract as
    * every verify here: the quadratic-ish metric runs ONLY on
    * bucket-bounded candidate pairs, and the `maxDist` threshold caps
    * each pair's cost at O(len · maxDist) (Spark's bounded levenshtein
    * returns -1 past the bound and stops early) — an adversarial
    * megabyte-long pair costs the band, not a full DP matrix. Texts join
    * back to id pairs on the uniform id key; similarity is an exact
    * integer ratio of (maxLen - dist) / maxLen.
    */
  def editVerify(docs: DataFrame, id: String, textCol: String, n: Int, k: Int,
                 rowsPerBand: Int, maxDist: Int): DataFrame =
    editVerifyOnPairs(
      minhashPairs(docs, id, textCol, n, k, rowsPerBand).select("id_a", "id_b"),
      docs, id, textCol, maxDist)

  /** The verify stage alone, over an already-computed candidate-pair
    * table — the shape a deployment actually runs, where the pairs are a
    * maintained index artifact ([[pairsOf]]) shared by every verify
    * metric rather than re-derived per metric.
    */
  def editVerifyOnPairs(pairs: DataFrame, docs: DataFrame, id: String,
                        textCol: String, maxDist: Int): DataFrame = {
    val t = docs.select(col(id), col(textCol))
    pairs
      .join(t.select(col(id).as("id_a"), col(textCol).as("text_a")), "id_a")
      .join(t.select(col(id).as("id_b"), col(textCol).as("text_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("text_a"), col("text_b"), maxDist).as("lev"),
        greatest(length(col("text_a")), length(col("text_b"))).as("ml"))
      .filter(col("lev") >= 0)
      .select(col("id_a"), col("id_b"), col("lev").cast("long").as("edit_dist"),
        Stable.ratioRounded(col("ml") - col("lev"), col("ml"), 4).as("edit_sim"))
      .orderBy("id_a", "id_b")
  }

  /** LSH candidates verified with exact n-gram Jaccard >= threshold. The
    * expensive set intersection runs only on bucket-mates, never all pairs.
    */
  def ngramJaccardPairs(docs: DataFrame, id: String, textCol: String,
                        n: Int, k: Int, rowsPerBand: Int, threshold: Double,
                        bucketCap: Int = Dedup.defaultBucketCap): DataFrame =
    ngramJaccardOnPairs(
      minhashPairs(docs, id, textCol, n, k, rowsPerBand, bucketCap)
        .select("id_a", "id_b"),
      docs, id, textCol, n, threshold)

  /** The Jaccard verify stage alone over precomputed candidates — see
    * [[editVerifyOnPairs]] for the shared-index rationale. */
  def ngramJaccardOnPairs(cand: DataFrame, docs: DataFrame, id: String,
                          textCol: String, n: Int, threshold: Double): DataFrame = {
    val sets = docs.select(col(id), shingles(col(textCol), n).as("sh"))
    val ja = sets.select(col(id).as("id_a"), col("sh").as("sh_a"))
    val jb = sets.select(col(id).as("id_b"), col("sh").as("sh_b"))
    // int-ratio rounding (Stable): |A∩B|/|A∪B| can land on an exact
    // decimal half, where round(double) is engine-dependent
    val jac = Stable.ratioRounded(
      size(array_intersect(col("sh_a"), col("sh_b"))),
      size(array_union(col("sh_a"), col("sh_b"))), 4)
    cand.join(ja, "id_a").join(jb, "id_b")
      .select(col("id_a"), col("id_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 32-bit SimHash per doc over distinct shingles: per shingle a 32-bit
    * md5 prefix; per bit, sum of +/-1 contributions; sign -> bit. One
    * explode + one hash-agg (32 partial sums), then a pure projection packs
    * the signature — linear, one shuffle.
    */
  /** LSH quality evaluation — the recall/precision audit a production
    * dedup pipeline runs before trusting its banding config. Ground
    * truth is exact shingle-set Jaccard ≥ `threshold` over a
    * DETERMINISTIC probe sample (md5 draw, ~1/probeMod of the exact-
    * deduped reps): for each probe, truth-pair GENERATION comes from an
    * inverted shingle index restricted to shingles with document
    * frequency ≤ `dfCap` (standard df-bounded blocking — at 100 TB the
    * index join is bounded per probe-shingle by the cap, and a
    * stop-shingle can never go quadratic). Truth is therefore
    * df-BOUNDED exact Jaccard: a qualifying pair whose overlap is
    * EXCLUSIVELY >cap stop-shingles is outside the generated block and
    * invisible to the audit — the documented residual approximation.
    * The count-bound prune between generation and the exact verify is
    * SOUND (r13): a pair survives when
    * `3·(shared_rare + min(common_a, common_b)) ≥ |A|+|B|`, the
    * loosest bound consistent with `jac ≥ ½ ⟹ 3·|A∩B| ≥ |A|+|B|`
    * given only the rare-subset count, so the prune can never evict a
    * pair the full intersection would keep. Shared-rare counts are
    * taken per DIRECTED (probe, other) pair so probe–probe pairs are
    * not double-counted (r12 advice). Candidates are the SAME
    * banded-LSH pair set the dedup family ships, restricted to pairs
    * touching a probe. Output is one row: probe/truth/candidate/hit
    * counts + recall and precision, int-ratio-rounded, PLUS the
    * blind-spot bound (r15): `n_exposed`/`exposure_bound` count the
    * probes whose stop-shingle mass alone could reach the threshold
    * (jac of any invisible pair vs probe a is ≤ ncom(a)/nsh(a)), i.e.
    * the only probes whose truth set could be undercounted — the
    * recall number ships with its own quantified caveat.
    */
  def lshEval(docs: DataFrame, id: String, textCol: String,
              n: Int, k: Int, rowsPerBand: Int,
              probeMod: Int, dfCap: Int, threshold: Double,
              prebuiltReps: Option[DataFrame] = None,
              prebuiltPairs: Option[DataFrame] = None): DataFrame = {
    val reps = prebuiltReps.getOrElse(
      representatives(docs, id, textCol)).select(col(id), col(textCol))
    val draw = conv(substring(md5(col(id).cast("string").cast("binary")), 1, 4),
      16, 10).cast("long")
    val probes = reps.filter(pmod(draw, lit(probeMod)) === 0)
      .select(col(id).as("probe_id"))
    val repSh = explodeShingles(reps, id, textCol, n)
    val rare = repSh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("sh")
    // the df-bounded inverted index is referenced THREE times below
    // (probe restriction, the shared-count self-join, per-doc rare
    // sizes) — a lazy plan re-runs the shingle explode + df join per
    // reference; materialize it once (narrow (id, sh) rows; r15)
    val shr = graft.CacheScope.checkpoint(repSh.join(rare, "sh"))
    val psh = shr.join(probes, shr(id) === probes("probe_id"))
      .select(col("probe_id"), col("sh"))
    // count shared RARE shingles per DIRECTED (probe, other) pair — one
    // row per shared shingle per direction, so a probe-probe pair's two
    // directions each carry the TRUE count and the unordered collapse
    // below can't double it (r12 advice). The prune is SOUND: with
    // common_x = |X| - |X ∩ rare| the full intersection is bounded by
    // shared_rare + min(common_a, common_b), so jac >= 1/2 (which
    // implies 3·|A∩B| >= |A|+|B|) can only hold for survivors of
    // 3·(shared + min(ca, cb)) >= na + nb — the exact verify runs only
    // on those (this keeps the audit linear-ish; the bound is mirrored
    // verbatim in the oracle, so truth cannot drift between engines)
    val sharedCnt = psh.join(shr, "sh")
      .filter(col("probe_id") =!= col(id))
      .groupBy(col("probe_id"), col(id)).agg(count(lit(1)).as("shared"))
    val nsh = reps.select(col(id),
      size(shingles(col(textCol), n)).as("nsh"))
    val nshr = shr.groupBy(col(id)).agg(count(lit(1)).as("nshr"))
    val szs = nsh.join(nshr, id)
      .select(col(id), col("nsh"), (col("nsh") - col("nshr")).as("ncom"))
    val pruned = sharedCnt
      .join(szs.select(col(id).as("probe_id"),
        col("nsh").as("na"), col("ncom").as("ca")), "probe_id")
      .join(szs.select(col(id),
        col("nsh").as("nb"), col("ncom").as("cb")), id)
      .filter((col("shared") + least(col("ca"), col("cb"))) * 3 >=
        col("na") + col("nb"))
      .select(least(col("probe_id"), col(id)).as("id_a"),
        greatest(col("probe_id"), col(id)).as("id_b"))
      .distinct()
    // truth and candP are each consumed twice (their count agg + the
    // hit semi-join) — both are answer-small pair lists, checkpoint
    // them so the exact-Jaccard verify and the banded-pair restriction
    // run once (r15)
    val truth = graft.CacheScope.checkpoint(
      ngramJaccardOnPairs(pruned, reps, id, textCol, n, threshold)
        .select("id_a", "id_b"))
    val cand = prebuiltPairs.getOrElse(
      minhashPairsOfReps(reps, id, textCol, n, k, rowsPerBand))
      .select("id_a", "id_b")
    val candP = graft.CacheScope.checkpoint(
      cand.join(probes.select(col("probe_id").as("id_a")), Seq("id_a"), "left_semi")
        .unionAll(cand.join(probes.select(col("probe_id").as("id_b")), Seq("id_b"), "left_semi")
          .select("id_a", "id_b"))
        .distinct())
    val hits = truth.join(candP, Seq("id_a", "id_b"), "left_semi")
    // BLIND-SPOT BOUND (r15): a truth pair invisible to the audit must
    // overlap EXCLUSIVELY in >dfCap stop-shingles, so against probe a
    // its intersection is ≤ ncom(a) while its union is ≥ nsh(a) — jac ≤
    // ncom/nsh. A probe with ncom/nsh < threshold therefore PROVABLY
    // has no invisible qualifying pair; the audit now emits the exposed
    // count/fraction so the recall figure carries a QUANTIFIED caveat
    // instead of a prose one. Threshold compares as 1e4-quantized
    // integers (exact for the shipped 0.5; portable for any 4dp value).
    // Probes with ZERO rare shingles (absent from the inner-joined size
    // table) are the fully blind case — the LEFT join keeps them.
    val thrQ = math.round(threshold * 10000)
    val exposed = nsh.join(probes, nsh(id) === probes("probe_id"), "left_semi")
      .join(nshr, Seq(id), "left")
      .filter((col("nsh") - coalesce(col("nshr"), lit(0L))) * 10000L >=
        lit(thrQ) * col("nsh"))
    probes.agg(count(lit(1)).as("n_probes"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .crossJoin(candP.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .crossJoin(exposed.agg(count(lit(1)).as("n_exposed")))
      .select(col("n_probes"), col("n_truth"), col("n_cand"), col("n_hit"),
        when(col("n_truth") > 0,
          Stable.ratioRounded(col("n_hit"), col("n_truth"), 4)).as("recall"),
        when(col("n_cand") > 0,
          Stable.ratioRounded(col("n_hit"), col("n_cand"), 4)).as("precision"),
        col("n_exposed"),
        when(col("n_probes") > 0,
          Stable.ratioRounded(col("n_exposed"), col("n_probes"), 4))
          .as("exposure_bound"))
  }

  def simhash32(docs: DataFrame, id: String, textCol: String, n: Int): DataFrame = {
    val sh = explodeShingles(docs, id, textCol, n)
    val v = graft.functions.GraftFunctions.md5PrefixLong(col("sh"), 0, "")
    val sums = (0 until 32).map(i =>
      sum(shiftright(col("v"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$i"))
    sh.select(col(id), v.as("v"))
      .groupBy(col(id))
      .agg(sums.head, sums.tail: _*)
      .select(col(id),
        (0 until 32).map(i => when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Near-dup pairs with hamming(simhash) <= maxHamming, found via the 4
    * byte-block pigeonhole buckets (hamming <= 3 guarantees a shared block).
    * Pairs are between content [[representatives]] and each (block, value)
    * bucket is capped at `bucketCap` members — hamming-0 duplicates share
    * all 4 blocks, so without both guards a duplicate flood is quadratic.
    */
  def simhashPairs(docs: DataFrame, id: String, textCol: String,
                   n: Int, maxHamming: Int, bucketCap: Int = Dedup.defaultBucketCap): DataFrame = {
    // 4 blocks over 32 bits pigeonhole-guarantee completeness only up to
    // hamming 3; a larger radius would silently miss pairs
    require(maxHamming <= 3, s"4-block buckets are complete only for maxHamming <= 3, got $maxHamming")
    val reps = representatives(docs, id, textCol).select(col(id), col(textCol))
    val sig = simhash32(reps, id, textCol, n)
    val blockCols = (0 until 4).map(b => struct(lit(b).as("b"),
      shiftright(col("simhash"), 8 * b).bitwiseAND(lit(255L)).as("blk")))
    val blocks = capBuckets(
      sig.select(col(id), col("simhash"), explode(array(blockCols: _*)).as("bb"))
        .select(col(id), col("simhash"), col("bb.b").as("b"), col("bb.blk").as("blk")),
      Seq("b", "blk"), id, bucketCap)
    val a = blocks.select(col(id).as("id_a"), col("simhash").as("h_a"), col("b"), col("blk"))
    val bd = blocks.select(col(id).as("id_b"), col("simhash").as("h_b"),
      col("b").as("b2"), col("blk").as("blk2"))
    val hamming = bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("bigint")
    a.join(bd, col("b") === col("b2") && col("blk") === col("blk2") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Decontamination: which training docs overlap a (small) benchmark set?
    * The benchmark side is tiny by nature, so its exploded shingles
    * broadcast and the check is one broadcast join on the shingle + a
    * hash-agg — a single pass over the training corpus, no shuffle of it.
    * overlap_frac = |shared shingles| / |benchmark doc's shingles|.
    */
  def contaminationPairs(train: DataFrame, bench: DataFrame, id: String,
                         textCol: String, n: Int, threshold: Double): DataFrame = {
    val ts = explodeShingles(train, id, textCol, n)
    val bs = explodeShingles(bench, id, textCol, n)
      .select(col(id).as("bench_id"), col("sh"))
    val bSizes = bench.select(col(id).as("bench_id"),
      size(shingles(col(textCol), n)).as("bench_sh"))
    val shared = ts.join(broadcast(bs), "sh")
      .filter(col(id) =!= col("bench_id"))
      .groupBy(col(id), col("bench_id")).agg(count(lit(1)).as("shared"))
    shared.join(broadcast(bSizes), "bench_id")
      .select(col(id), col("bench_id"), col("shared"),
        Stable.ratioRounded(col("shared"), col("bench_sh"), 4).as("overlap_frac"))
      .filter(col("overlap_frac") >= threshold)
  }

  /** SCOPED near-dup candidate pairs: the minhash chain with every
    * bucket additionally keyed by a scope column — "dedup within each
    * source/language, never across" (licensing boundaries, per-language
    * corpora, per-tenant isolation). Scoping is free at scale: the
    * scope rides the band key, so buckets — and therefore ALL pairwise
    * work — split by scope (a skewed scope only floods its own capped
    * buckets). The exact-dedup pre-pass also scopes: identical content
    * in two scopes is NOT a duplicate here, so each scope keeps its own
    * representative.
    */
  def minhashPairsScoped(docs: DataFrame, id: String, textCol: String,
                         scope: String, n: Int, k: Int, rowsPerBand: Int,
                         bucketCap: Int = Dedup.defaultBucketCap,
                         prebuiltSigs: Option[DataFrame] = None): DataFrame = {
    val reps = docs.groupBy(col(scope), md5(col(textCol)).as("_ch"))
      .agg(min(struct(col(id), col(textCol))).as("_f"))
      .select(col(scope), col(s"_f.$id").as(id), col(s"_f.$textCol").as(textCol))
    val sig = sigsFor(reps.select(col(id), col(textCol)), id, textCol, n, k, prebuiltSigs)
      .join(reps.select(col(id), col(scope)), id) // reps ids are unique
    val buckets = capBuckets(
      bandBuckets(sig, k, rowsPerBand)
        .withColumn("band_key", concat_ws("|", col(scope), col("band_key"))),
      Seq("band_key"), id, bucketCap)
    val a = buckets.select(col("band_key") +: col(scope) +: col(id).as("id_a") +:
      (0 until k).map(i => col(s"mh$i").as(s"a$i")): _*)
    val b = buckets.select(col("band_key").as("bk2") +: col(id).as("id_b") +:
      (0 until k).map(i => col(s"mh$i").as(s"b$i")): _*)
    val est = (0 until k).map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / k
    a.join(b, col("band_key") === col("bk2") && col("id_a") < col("id_b"))
      .select(col(scope), col("id_a"), col("id_b"), est.as("est_sim"))
      .distinct()
  }

  /** Connected components over an undirected edge set: the step that
    * turns near-dup PAIRS into dedup GROUPS (cluster = the min member id,
    * i.e. the doc to keep; everything else in the component is the
    * removal list). Min-label propagation to fixpoint: each iteration
    * every node takes the min of its own and its neighbors' labels — a
    * join + hash-agg, two shuffles per round, converging in
    * graph-diameter rounds (near-dup components are shallow). Each
    * round is checkpointed by [[graft.Fixpoint]], which truncates the
    * growing lineage.
    *
    * The fixpoint is unique, so the result is deterministic and
    * oracle-comparable (the DuckDB oracle reaches it via a recursive
    * CTE). If `maxIters` rounds don't converge, the answer comes from
    * [[connectedComponentsStar]] instead — the same fixpoint, never a
    * partial clustering.
    */
  def connectedComponents(nodes: DataFrame, id: String, edges: DataFrame,
                          aCol: String, bCol: String, maxIters: Int = 20): DataFrame = {
    // materialize the (possibly expensive) edge derivation ONCE — every
    // propagation round joins e, and without this the whole upstream
    // pipeline (e.g. minhash candidate generation) re-executes per round
    val e = CacheScope.checkpoint(
      edges.select(col(aCol).as("_src"), col(bCol).as("_dst"))
        .unionByName(edges.select(col(bCol).as("_src"), col(aCol).as("_dst"))))
    // seed from nodes UNION edge endpoints: an endpoint missing from
    // `nodes` would otherwise appear mid-loop, be invisible to the
    // inner-join convergence check, and silently split its component.
    // The seed label is min(node, min neighbor) — the FIRST propagation
    // step prepaid inside the seed materialization (one node-grain agg
    // over the checkpointed edge blocks, riding the same job): shallow
    // near-dup clusters are then BORN at their fixpoint and converge in
    // one confirming round instead of two, and deeper graphs save a
    // round whenever the diameter parity tips (on graph_components at
    // sf0.1 a round measured ~0.9 s of the 3.5 s propagation)
    val nbrMin = e.groupBy(col("_src").as(id)).agg(min(col("_dst")).as("_nm"))
    val seed = nodes.select(col(id)).distinct()
      .join(nbrMin, Seq(id), "full_outer")
      .select(col(id), least(col(id), coalesce(col("_nm"), col(id))).as("cluster"))
    val fix = Fixpoint.iterate("connectedComponents", seed, maxIters) { (snapshot, _, _) =>
      val labels = snapshot.select(col(id), col("cluster"))
      // TWO propagation steps per materialised round: the checkpoint is a
      // per-round fixed cost (a job launch — the dominant cost of shallow
      // components in local mode, and a scheduling round-trip on a
      // cluster), so covering distance 2 per round halves them; the extra
      // join/agg pair rides inside the same plan, and the convergence
      // count rides the checkpoint job itself (the observed `changed`).
      // A 3-step variant was MEASURED SLOWER at sf0.1 (4.2 s vs 3.5 s
      // propagation on the nation trade graph: the marginal join+agg
      // inside the round costs more than the round it saves), so two is
      // the pinned choice, with the min-neighbor seed prepaying step 1.
      val msgs1 = e.join(labels, e("_src") === labels(id))
        .select(col("_dst").as(id), col("cluster"), lit(0).as("_self"))
      // the node's OWN previous label rides through the same aggregation
      // (max(when _self)) so convergence is a cheap filter-count over the
      // checkpointed result — the old shape re-joined `labels` per round,
      // a second shuffle join in every iteration just to count changes
      val mid = labels.withColumn("_self", lit(1)).unionByName(msgs1)
        .groupBy(col(id)).agg(min(col("cluster")).as("cluster"),
          max(when(col("_self") === 1, col("cluster"))).as("_prev"))
      // step 2 over step 1's labels; _prev keeps the ROUND-START label
      // (messages carry a placeholder the `when` filter never reads), so
      // `changed` detects a change in either sub-step — and a fixpoint
      // after step 1 is necessarily a fixpoint after step 2
      val msgs2 = e.join(mid.select(col(id), col("cluster")), e("_src") === col(id))
        .select(col("_dst").as(id), col("cluster"),
          col("cluster").as("_prev"), lit(0).as("_self"))
      val next = mid.withColumn("_self", lit(1)).unionByName(msgs2)
        .groupBy(col(id)).agg(min(col("cluster")).as("cluster"),
          max(when(col("_self") === 1, col("_prev"))).as("_prev"))
      (next, Seq(count(when(col("cluster") =!= col("_prev"), lit(1))).as("changed")))
    } { (_, m) => m("changed") == 0L }
    if (fix.converged) fix.state.select(col(id), col("cluster"))
    // Diameter exceeded the propagation budget — near-dup components are
    // shallow by construction, so this is the PATHOLOGICAL-graph path
    // (adversarial chains): switch to alternating-star contraction,
    // which converges in O(log² n) rounds on ANY topology and reaches
    // the same unique min-label fixpoint: the same answer, never a
    // partial clustering.
    else connectedComponentsStar(nodes, id, edges, aCol, bCol)
  }

  /** Connected components by ALTERNATING-STAR CONTRACTION (the
    * large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round every node
    * hooks its larger neighbors (large-star) / its not-larger neighbors
    * (small-star) onto the minimum of its neighborhood, and the
    * alternation contracts any graph — a DIAMETER-INDEPENDENT O(log² n)
    * round bound where label propagation needs diameter rounds. The
    * fixpoint is the star forest centered at each component's minimum
    * node, i.e. the same unique labels propagation reaches.
    *
    * Per round: two hash-aggs + joins over the current edge set, one
    * checkpoint; the edge set only shrinks toward the star forest.
    * Convergence = the canonical edge set stops changing, detected by
    * (count, order-free hash-sum) riding the checkpoint job as observe()
    * metrics — no extra job; a (astronomically unlikely) hash collision
    * could only DELAY convergence detection by a round, never corrupt the
    * result, because equal signatures are re-checked on the next round's
    * identical edge set.
    */
  def connectedComponentsStar(nodes: DataFrame, id: String, edges: DataFrame,
                              aCol: String, bCol: String,
                              maxRounds: Int = 40): DataFrame = {
    def bi(ed: DataFrame): DataFrame =
      ed.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(ed.select(col("lo").as("u"), col("hi").as("v")))
    // m(u) = min(Γ(u) ∪ {u}) per node of the CURRENT edge set
    def mins(ed: DataFrame): DataFrame =
      bi(ed).groupBy(col("u")).agg(min(col("v")).as("_mn"))
        .select(col("u"), least(col("u"), col("_mn")).as("m"))
    // canonical undirected edges as (hi > lo); self-loops dropped
    val seed = edges.select(greatest(col(aCol), col(bCol)).as("hi"),
        least(col(aCol), col(bCol)).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
    // the seed observes nothing, so round 1 never converges: convergence
    // is two consecutive rounds with equal (n, h) signatures
    val e = Fixpoint.iterate("connectedComponentsStar", seed, maxRounds) { (e, _, _) =>
      // large-star: (v, m(u)) for v ∈ Γ(u), v > u — hooks large neighbors
      val ls = bi(e).join(mins(e), "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      // small-star over the large-star output: (v, m(u)) for v ∈ Γ(u),
      // v ≤ u, plus (u, m(u)) — hooks the small side onto the minimum
      val sbi = bi(ls)
      val smin = sbi.filter(col("v") <= col("u"))
        .groupBy(col("u")).agg(min(col("v")).as("_mn"))
        .select(col("u"), least(col("u"), col("_mn")).as("m"))
      val ss = sbi.filter(col("v") <= col("u")).join(smin, "u")
        .select(col("v").as("_x"), col("m"))
        .unionByName(smin.select(col("u").as("_x"), col("m")))
        .filter(col("_x") =!= col("m"))
        .select(greatest(col("_x"), col("m")).as("hi"),
          least(col("_x"), col("m")).as("lo"))
        .distinct()
      // decimal sum: a long sum of 64-bit hashes overflows under ANSI mode
      (ss, Seq(count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("hi"), col("lo")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("h")))
    } (_ == _).required
    // star forest: leaves point at their component min; centers label self;
    // isolated nodes (no edges at all) label self
    val lbl = bi(e).groupBy(col("u")).agg(min(col("v")).as("_mn"))
      .select(col("u").as(id), least(col("u"), col("_mn")).as("cluster"))
    nodes.select(col(id))
      .unionByName(edges.select(col(aCol).as(id)))
      .unionByName(edges.select(col(bCol).as(id)))
      .distinct()
      .join(lbl, Seq(id), "left")
      .select(col(id), coalesce(col("cluster"), col(id)).as("cluster"))
  }

  /** Weighted deterministic source mixing — the "60% web, 30% code, 10%
    * papers" composition step of a training mix. Each row is kept iff a
    * content-hash draw (first 4 md5 nibbles of its id, uniform on
    * [0, 65536)) lands under rate(source)×65536: no RNG state, so the
    * mix is reproducible across engines, runs and task retries, and
    * exact-in-expectation per source at any parallelism. Pure codegen
    * projection + filter, zero shuffle.
    */
  def mixSources(df: DataFrame, sourceCol: String, idCol: String,
                 rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }
    sampleWeighted(df, idCol, rate)
  }

  /** Deterministic weighted Bernoulli sample: each row keeps with
    * probability = its own weight expression (caller clamps to [0,1]),
    * decided by the same stateless md5 draw as [[mixSources]] — so the
    * sample is reproducible across engines, runs and task retries, and
    * stays a zero-shuffle codegen projection+filter. Where mixSources
    * weights by SOURCE, this weights by any per-row signal (length,
    * quality score, duplicate count) — the "upsample long documents"
    * knob of a training-mix recipe.
    */
  def sampleWeighted(df: DataFrame, idCol: String, weight: Column): DataFrame = {
    val draw = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 4),
      16, 10).cast("long")
    df.filter(draw < weight * 65536)
  }

  /** Temperature-scaled source mixing — the standard "flatten the source
    * distribution" knob of a multilingual/multi-source training mix
    * (T5/mC4-style: sampling share ∝ n_s^α with α < 1, realised here by
    * DOWNSAMPLING the head so no source needs upsampling). With α = 0.5
    * the keep rate per source is r_s = sqrt(n_min / n_s): the smallest
    * source keeps everything, a source 100× larger keeps 10%. The rates
    * derive from one tiny per-source count agg (|sources| rows) that
    * broadcast-joins back onto the corpus; the keep decision is the same
    * stateless md5 draw as [[mixSources]] — so the whole operator costs
    * one map-side-combined count pass plus a zero-shuffle filtered
    * projection at any scale. sqrt and the long→double divide are
    * IEEE-correctly-rounded in both engines (unlike pow/exp, whose libm
    * implementations may differ by ulps — why α is fixed at 0.5 here:
    * other temperatures would need a portable rational-power ladder).
    */
  /** Token-budget planning table: given a target mix (integer percent
    * weights) and a total training-token budget, what does each source
    * contribute per epoch, how many epochs must it repeat to fill its
    * share, and does that exceed the repetition cap? This is the planner
    * behind every data-mixing config — weights come from a mixing law,
    * the budget from compute, and `epochs > cap` is the signal to go
    * collect more of a source rather than over-repeat it.
    *
    * One corpus pass (per-source whitespace-token sum, map-side
    * combined), then source-grain arithmetic on an n_sources-row table.
    * Targets use integer arithmetic (budget × pct ÷ 100) and the epoch
    * ratio goes through Stable — both engine-portable where a
    * double-weight multiply could flip a floor on a tie.
    */
  def mixTokenBudget(df: DataFrame, sourceCol: String, textCol: String,
                     weightsPct: Seq[(String, Long)], budgetTokens: Long,
                     epochCap: Double): DataFrame = {
    val avail = df
      .groupBy(col(sourceCol).as("source"))
      .agg(sum(size(graft.operators.TextOps.tokens(col(textCol))).cast("long"))
        .as("avail_tokens"))
    mixTokenBudgetOf(avail, weightsPct, budgetTokens, epochCap)
  }

  /** The planner arithmetic over an already-computed per-source token
    * table `(source, avail_tokens)` — the entry point for callers whose
    * availability is denominated in something other than whitespace
    * tokens (e.g. true BPE tokenizer counts, mix_token_budget_bpe).
    */
  def mixTokenBudgetOf(avail: DataFrame,
                       weightsPct: Seq[(String, Long)], budgetTokens: Long,
                       epochCap: Double): DataFrame = {
    val spark = avail.sparkSession
    import spark.implicits._
    val wdf = weightsPct.toDF("source", "weight_pct")
    // weights side drives the join: a configured source ABSENT from the
    // corpus must still surface (avail 0, over_cap true) — that row IS
    // the "go collect this source" signal the planner exists to produce;
    // an inner join would silently vanish its budget share. Both sides
    // are source-grain tiny; AQE picks the build side.
    wdf.join(avail, Seq("source"), "left_outer")
      .withColumn("avail_tokens", coalesce(col("avail_tokens"), lit(0L)))
      .withColumn("target_tokens", expr(s"($budgetTokens * weight_pct) div 100"))
      .withColumn("epochs",
        when(col("avail_tokens") === 0, lit(null).cast("double"))
          .otherwise(Stable.ratioRounded(col("target_tokens"), col("avail_tokens"), 4)))
      // integer comparison, not epochs > cap: stays defined at avail 0
      .withColumn("over_cap",
        col("target_tokens") > col("avail_tokens") * lit(epochCap))
      .select("source", "weight_pct", "avail_tokens", "target_tokens",
        "epochs", "over_cap")
  }

  def mixTemperatureHalf(df: DataFrame, sourceCol: String, idCol: String): DataFrame = {
    // NULL sources fold into a sentinel group for BOTH the counts and the
    // join key: a plain inner join on sourceCol would silently drop every
    // NULL row while its group still participated in (and could set) the
    // global minimum — a group no row of which can survive must not
    // dictate everyone else's keep rate.
    val srcKey = coalesce(col(sourceCol).cast("string"), lit("\u0001null"))
    val counts = df.groupBy(srcKey.as("_src")).agg(count(lit(1)).as("_n"))
    val nmin = counts.agg(min(col("_n")).as("_nmin"))
    val rates = counts.crossJoin(broadcast(nmin))
      .select(col("_src"),
        sqrt(col("_nmin").cast("double") / col("_n").cast("double")).as("_rate"))
    val draw = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 4),
      16, 10).cast("long")
    df.withColumn("_src", srcKey)
      .join(broadcast(rates), "_src")
      .filter(draw < col("_rate") * 65536)
      .drop("_rate", "_src")
  }

  /** Exact-substring decontamination: which training docs contain a
    * benchmark item's probe phrase verbatim? The complement of
    * [[contaminationPairs]]' shingle-overlap fraction — this is the
    * "answer string appears verbatim in the training set" check run
    * before every eval. Probe = each benchmark doc's first `k` tokens
    * joined by a single space (normalising the whitespace the substring
    * scan must not depend on). The benchmark side is tiny by definition,
    * so it broadcasts and the whole check is corpus × |bench| codegen'd
    * substring probes — embarrassingly parallel, ZERO shuffle of the
    * corpus side; at 100 TB this is a single filtered pass. (A
    * benchmark too large to broadcast would switch to
    * [[contaminationPairs]]' shingle equi-join shape instead.)
    */
  def exactContamination(train: DataFrame, bench: DataFrame, id: String,
                         textCol: String, k: Int): DataFrame = {
    val toks = filter(split(trim(col(textCol)), "\\s+"),
      t => length(t) > 0)
    val phrases = bench
      .select(col(id).as("bench_id"), toks.as("_t"))
      .filter(size(col("_t")) >= k)
      .select(col("bench_id"), array_join(slice(col("_t"), 1, k), " ").as("_phrase"))
    // the SCAN side normalises its whitespace too — the probe is
    // single-space-joined, so a training doc carrying the phrase
    // re-wrapped (newline, double space) must still match. Projected
    // ONCE before the crossJoin: inside the join condition the regex
    // would re-run per (doc, phrase) pair — |bench|× the cost.
    train.select(col(id),
        regexp_replace(col(textCol), "\\s+", " ").as("_norm"))
      .crossJoin(broadcast(phrases))
      .filter(col(id) =!= col("bench_id") &&
        instr(col("_norm"), col("_phrase")) > 0)
      .select(col(id), col("bench_id"))
  }

  /** Bloom-screen decontamination — the SCALE path for "does any training
    * doc share an n-gram with the benchmark set": the bench side's
    * shingles are folded into a few-KB bit array ([[Relational.bloomOf]],
    * md5-derived positions so the sketch is engine-portable) that ships
    * to every scan task; each corpus shingle is then k codegen'd bit
    * tests — ZERO shuffle of the corpus for the screen itself. At 100 TB
    * this replaces the shingle equi-join of [[contaminationPairs]] with
    * a filtered pass (the same reduction Spark's runtime bloom join
    * pushdown makes, here explicit and benchmark-owned).
    *
    * A Bloom filter can flag a clean shingle (false positive, rate set
    * by numBits/numHashes) but never miss a contaminated one. This
    * operator GRADES the screen in-query (the events_approx_stats
    * recipe): alongside `bloom_hits` it computes the exact join answer
    * (`exact_hits`) and the per-doc false-positive surplus `bloom_fp =
    * bloom_hits - exact_hits >= 0` — so the oracle checks the screen's
    * soundness end-to-end. Production callers drop the exact join and
    * keep only the screen (then verify flagged docs with
    * [[exactContamination]] — two-phase, like every LSH family here).
    */
  def bloomContamination(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int, numBits: Int,
                         numHashes: Int,
                         prebuiltWords: Option[Array[Long]] = None): DataFrame = {
    val bsh = explodeShingles(bench, idCol, textCol, n)
      .select(col("sh").as("s")).distinct()
    val words = prebuiltWords.getOrElse(
      Relational.bloomOf(bsh, "s", numBits, numHashes))
    require(words.length * 64 == numBits, "prebuilt sketch width != numBits")
    val probed = explodeShingles(train, idCol, textCol, n)
      .withColumn("_bloom",
        Relational.bloomMightContain(col("sh"), words, numHashes))
    probed.join(bsh.withColumn("_inb", lit(1L)), probed("sh") === col("s"),
        "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_bloom"), 1L).otherwise(0L)).as("bloom_hits"),
        sum(when(col("_inb").isNotNull, 1L).otherwise(0L)).as("exact_hits"))
      .withColumn("bloom_fp", col("bloom_hits") - col("exact_hits"))
      .withColumn("flagged", col("bloom_hits") > 0)
  }

  /** TWO-PHASE contaminated-id extraction — the production composition of
    * the bloom screen: phase 1 drops every corpus shingle the broadcast
    * sketch rejects (zero shuffle, the overwhelming majority at any real
    * benchmark/corpus ratio); phase 2 exact-verifies only the flagged
    * remainder against the bench shingle set, so the equi-join's probe
    * side is candidate-sized, not corpus-sized. The result is EXACT
    * (bloom never misses; false positives die in the verify join) — the
    * oracle can state plain shared-shingle semantics with no sketch
    * arithmetic. Returns the distinct contaminated ids (the anti-join
    * input for a removal stage).
    */
  def contaminatedIds(train: DataFrame, bench: DataFrame, idCol: String,
                      textCol: String, n: Int, numBits: Int,
                      numHashes: Int): DataFrame = {
    val bsh = explodeShingles(bench, idCol, textCol, n)
      .select(col("sh").as("s")).distinct()
    val words = Relational.bloomOf(bsh, "s", numBits, numHashes)
    explodeShingles(train, idCol, textCol, n)
      .filter(Relational.bloomMightContain(col("sh"), words, numHashes))
      .join(bsh, col("sh") === col("s"))
      .select(col(idCol)).distinct()
  }

  /** Fractional-epoch UPSAMPLING — the other half of the mixing family
    * ([[sampleWeighted]] can only thin): a weight of 2.3 replicates
    * every row twice and keeps a third copy with probability 0.3, so a
    * small high-quality source can contribute >1 epoch to a training
    * mix. Deterministic: the integer part is a sequence-explode (no
    * RNG), the fractional copy rides the same stateless md5 draw as
    * every sampler here — reproducible across engines, runs and task
    * retries. Zero shuffle: replication happens where the row is read,
    * and output rows carry their epoch index (epoch ≥ 1) so downstream
    * packing can spread copies across shards. Weight is capped by the
    * caller; each row's cost is O(weight) — bounded fan-out, never a
    * join.
    */
  def upsampleWeighted(df: DataFrame, idCol: String, weight: Column): DataFrame = {
    val draw = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 4),
      16, 10).cast("long")
    val whole = floor(weight).cast("long")
    val extra = when(draw < (weight - whole.cast("double")) * 65536, 1L).otherwise(0L)
    df.withColumn("_copies", whole + extra)
      .filter(col("_copies") >= 1)
      .withColumn("epoch", explode(sequence(lit(1L), col("_copies"))))
      .drop("_copies")
  }

  /** SOFT dedup by near-dup cluster: keep each doc with probability
    * 1 / (its cluster's DOC count) — expected one surviving copy per
    * near-dup cluster, without hard dedup's all-or-nothing choice
    * (unique content always survives; a 1000-copy boilerplate cluster
    * survives ~once, and which copy survives is a reproducible hash
    * draw, not a min-id policy). The "downweight duplicates instead of
    * dropping them" knob of a training mix.
    *
    * Shape: the same exact-rep → minhash-pair → components chain as
    * [[connectedComponents]] clustering (reps/pairs costs shared with
    * any co-running dedup pass), cluster DOC sizes = one tiny agg over
    * reps (sum of exact-copy counts), and the doc→rep mapping joins on
    * the md5 CONTENT HASH — ids and 32-char hashes shuffle, never the
    * text. The final keep decision is the stateless md5 draw; 1.0/n is
    * one IEEE divide, bitwise portable.
    */
  /** The shared first half of [[softDedupByCluster]] and the
    * dedup_size_hist report: exact reps (with copy counts) → minhash
    * pairs → components → per-cluster DOC sizes. Returns the rep-level
    * table (_h content hash, cluster, n_dupes, cluster_docs) — rep rows
    * only, never corpus-sized. The minhash parameters are pinned here so
    * every consumer (and both SQL oracles) stays in lockstep.
    */
  private[operators] def clusterDocSizes(docs: DataFrame, id: String,
                                         textCol: String): DataFrame = {
    val reps = CacheScope.checkpoint(representatives(docs, id, textCol))
    val pairs = minhashPairsOfReps(reps.select(col(id), col(textCol)),
      id, textCol, n = 3, k = 8, rowsPerBand = 2)
      .select("id_a", "id_b")
    val comps = connectedComponents(reps.select(col(id)), id, pairs, "id_a", "id_b")
    repClusterSizes(reps, comps, id, textCol)
  }

  /** The rep-level (content hash, cluster, cluster_docs) join shared by
    * [[clusterDocSizes]] and the cached [[clusterSizesOf]] — ONE place
    * defines how cluster doc sizes derive from (reps, comps). */
  private def repClusterSizes(reps: DataFrame, comps: DataFrame,
                              id: String, textCol: String): DataFrame = {
    val repC = reps
      .select(col(id).as("_rep"), col("n_dupes"),
        md5(col(textCol).cast("binary")).as("_h"))
      .join(comps.select(col(id).as("_rep"), col("cluster")), "_rep")
    val sizes = repC.groupBy("cluster").agg(sum("n_dupes").as("cluster_docs"))
    repC.join(broadcast(sizes), "cluster")
  }

  /** Leakage-safe train/val/test split: the unit of assignment is the
    * near-dup CLUSTER, not the document — if two near-duplicates land on
    * opposite sides of the train/test boundary, the held-out set has
    * leaked into training and the eval is contaminated. Docs map to
    * their component label through the exact-dedup content hash (the
    * same path soft dedup uses), the deterministic md5 draw runs on the
    * CLUSTER id, and every member inherits its cluster's split — so the
    * guarantee is structural, not statistical. Work beyond the session
    * component index: one hash join at the content-hash grain + a
    * zero-shuffle projection.
    */
  def leakageSafeSplit(docs: DataFrame, id: String, textCol: String,
                       splits: Seq[(String, Double)],
                       prebuilt: Option[DataFrame] = None): DataFrame =
    TextOps.hashSplit(
      docClusters(docs, id, textCol,
        prebuilt.getOrElse(clusterDocSizes(docs, id, textCol)))
        .select(col(id), col("cluster")),
      "cluster", splits)

  /** doc → cluster mapping through the exact-dedup content hash — the
    * ONE definition of how a raw document finds its component (soft
    * dedup and the leakage-safe split both ride it; the repC columns
    * beyond (_h, cluster) pass through untouched).
    */
  private def docClusters(docs: DataFrame, id: String, textCol: String,
                          repC: DataFrame): DataFrame =
    docs.withColumn("_h", md5(col(textCol).cast("binary")))
      .join(repC.drop("_rep", "n_dupes"), "_h")

  def softDedupByCluster(docs: DataFrame, id: String, textCol: String,
                         prebuilt: Option[DataFrame] = None): DataFrame = {
    val repC = prebuilt.getOrElse(clusterDocSizes(docs, id, textCol))
    val mapped = docClusters(docs, id, textCol, repC)
    // 32-bit draw, not the 16-bit one sampleWeighted uses: the keep rate
    // here is 1/cluster_docs, and a 16-bit draw floors at 1/65536 — a
    // million-copy boilerplate cluster would keep ~15 expected copies
    // instead of ~1. Eight md5 nibbles give rates down to 1/2^32.
    val draw = conv(substring(md5(col(id).cast("string").cast("binary")), 1, 8),
      16, 10).cast("long")
    mapped.filter(draw < (lit(1.0) / col("cluster_docs")) * 4294967296.0)
      .select(col(id), col("cluster"), col("cluster_docs"))
  }

  // ------------------------------------------------- session index tables

  /** Session-lifetime dedup INDEX artifacts (shared [[graft.IndexCache]]
    * contract, same as the ANN list/code tables in [[Similarity]]):
    * exact-dedup reps and the minhash component labelling are
    * corpus-level indexes a dedup deployment builds ONCE and serves
    * every downstream query from (components, keeper tables, soft
    * dedup, size reports). Deterministic constructions over the dir's
    * current data version, so caching cannot change any result.
    */
  def repsOf(s: SparkSession, d: String): DataFrame =
    graft.IndexCache.of(s, d, "reps")(
      representatives(Tables.documents(s, d).select("doc_id", "text"),
        "doc_id", "text"))

  /** Minhash candidate-pair table over the reps, as a session index
    * (params pinned to the oracle constants): the ONE LSH chain run that
    * components and every verify metric (Jaccard, edit-distance) then
    * share — a dedup deployment derives candidates once per corpus, not
    * once per metric. dedup_minhash stays the raw, per-run-priced build
    * of exactly this table.
    */
  /** Session SIGNATURE index: one MinHash signature row per distinct
    * text, keyed by content hash, at the oracle constants (n=3, k=8).
    * This is THE expensive LSH computation (shingle explode + k/4 md5
    * per shingle); the scoped / incremental / decon variants each have
    * their own rep sets (per-scope minima, batch/corpus subsets) but a
    * signature depends only on the text — so every variant joins its
    * ids onto this one table by content hash instead of re-hashing.
    */
  def sigsByTextOf(s: SparkSession, d: String): DataFrame =
    graft.IndexCache.of(s, d, "sigs|3|8") {
      val reps = repsOf(s, d)
      minhashSignatures(reps.select("doc_id", "text"), "doc_id", "text", n = 3, k = 8)
        .join(reps.select(col("doc_id"), md5(col("text")).as("_ch")), "doc_id")
        .drop("doc_id")
    }

  def pairsOf(s: SparkSession, d: String): DataFrame =
    graft.IndexCache.of(s, d, "pairs|3|8|2")(
      minhashPairsOfReps(repsOf(s, d).select("doc_id", "text"),
        "doc_id", "text", n = 3, k = 8, rowsPerBand = 2,
        prebuiltSigs = Some(sigsByTextOf(s, d))))

  /** Minhash near-dup component labelling (doc_id → cluster) over the
    * reps, as a session index (params pinned to the oracle constants). */
  /** The persisted component index's on-disk key: LSH parameters PLUS a
    * content fingerprint of the document corpus ([[graft.sources.Io
    * .contentFingerprint]] over (doc_id, text) — printable null marker,
    * no SQL mirror needs it), so a regenerated corpus at the same path
    * re-keys and rebuilds the labelling instead of serving stale
    * clusters — the decon_bloom_persisted contract applied to the dedup
    * family (IoSpec pins the staleness behavior). One linear agg; a
    * table-format snapshot id replaces it at warehouse scale.
    */
  def componentsArtifactPath(s: SparkSession, d: String): String = {
    val fp = graft.sources.Io.contentFingerprint(
      Tables.documents(s, d).select("doc_id", "text"),
      Seq(col("doc_id").cast("string"), coalesce(col("text"), lit("~null~"))))
    graft.sources.Io.artifactPath("dedup_components", s"$d|3|8|2|$fp")
  }

  /** The persisted bloom sketch's on-disk key: the SAME constants the
    * probe uses PLUS a content fingerprint of the bench side (order-free
    * SUM of per-row crc32 over '|'-separated id|text with an explicit
    * null marker — xor would let a content swap between two rows cancel
    * exactly — plus the row count): a parameter edit OR a regenerated
    * benchmark at the same path re-keys the artifact instead of serving
    * a stale sketch — stale here would silently break the screen's
    * one-sided-error contract (bloom_hits >= exact_hits), not just return
    * old answers. The fingerprint pass is bench-sized, not corpus-sized.
    */
  private[graft] def bloomArtifactPath(bench: DataFrame, d: String): String = {
    val fpRow = bench.agg(
      count(lit(1)).as("n"),
      coalesce(expr(
        "sum(crc32(cast(concat_ws('|', cast(doc_id as string), coalesce(text, chr(1))) as binary)))"),
        lit(0L)).as("x")).head()
    graft.sources.Io.artifactPath("decon_bloom",
      s"$d|$bloomN|$bloomBits|$bloomHashes|${fpRow.getLong(0)}x${fpRow.getLong(1)}")
  }

  def componentsOf(s: SparkSession, d: String): DataFrame =
    graft.IndexCache.of(s, d, "components|3|8|2")(
      connectedComponents(repsOf(s, d).select("doc_id"), "doc_id",
        pairsOf(s, d).select("id_a", "id_b"), "id_a", "id_b"))

  /** Rep-level cluster table with content hash and per-cluster DOC
    * sizes — the shared substrate of soft dedup and the size report. */
  def clusterSizesOf(s: SparkSession, d: String): DataFrame =
    graft.IndexCache.of(s, d, "clustersizes")(
      repClusterSizes(repsOf(s, d), componentsOf(s, d), "doc_id", "text"))

  /** Quality-aware cluster collapse: instead of the min-id keeper every
    * other dedup path uses, keep each near-dup cluster's HIGHEST-quality
    * member (ties → min id) — the policy real corpus curation wants,
    * since the surviving copy is the one that trains. Inputs are the
    * rep-grain component labelling and any per-doc score table; output
    * is per-rep (doc_id, cluster, quality_score, keep_id, kept).
    *
    * Scale shape: everything is REP-grain (never corpus-sized — the
    * exact-dedup pre-pass already collapsed copies). The argmax is a
    * cluster-partitioned row_number window (clusters are candidate-cap
    * bounded, see §5 skew rules), and the keeper fans back with one join
    * on the cluster key. Two shuffles past the shared component index.
    */
  def keepBest(comp: DataFrame, scores: DataFrame, idCol: String,
               scoreCol: String): DataFrame = {
    val joined = comp.join(scores, idCol)
    val w = Window.partitionBy("cluster")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val best = joined
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("cluster"), col(idCol).as("keep_id"))
    joined.join(best, "cluster")
      .select(col(idCol), col("cluster"), col(scoreCol), col("keep_id"),
        (col(idCol) === col("keep_id")).as("kept"))
  }

  // ---------------------------------------------------------------- queries

  /** Bloom-screen parameters, pinned once for BOTH decon_bloom queries,
    * the persisted artifact's path key, and the generated oracle. */
  private val bloomN = 3
  private val bloomBits = 1 << 16
  private val bloomHashes = 4

  /** Bucket cap shared by the dedup queries and their generated oracles. */
  val defaultBucketCap = 64

  // ---- oracle SQL (generated so the 8-seed / 32-bit expansions and the
  // ---- pre-pass/cap stay in lockstep with the Scala constants above)

  // mirrors `representatives`: min id per distinct content (md5 vs raw text
  // grouping only differs under an md5 collision)
  private val repsCte =
    """reps AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text)"""
  // list_filter drops the empty first token a leading tab/newline produces
  // (trim strips only spaces) — matching WordNgrams' tokens-are-nonempty-runs
  // contract exactly instead of the split chain's empty-token artifact.
  // the fixed-name chain is the unprefixed sigChainParts instance — one
  // copy of the SQL, so the recipe cannot desynchronize across oracles
  private def tkCteFrom(src: String) = sigChainParts("", src).head
  private lazy val fixedChain = sigChainParts("", "reps")
  private lazy val tkCte = fixedChain(0)
  private lazy val shListCte = fixedChain(1)
  private lazy val shCte = fixedChain(2)
  private lazy val sigCte = fixedChain(3)
  private lazy val bkCte = fixedChain(4)
  // mirrors `capBuckets`: keep the cap lowest-id members per band bucket
  private val bkcCte = "bkc AS (SELECT doc_id, " +
    (0 until 8).map(i => s"mh$i").mkString(", ") +
    s", band_key FROM (SELECT *, row_number() OVER (PARTITION BY band_key ORDER BY doc_id) AS _rn FROM bk) WHERE _rn <= $defaultBucketCap)"
  private val estExpr = "(" +
    (0 until 8).map(i => s"(a.mh$i = b.mh$i)::INT").mkString(" + ") + ")::DOUBLE / 8"

  /** The tk→shs→sh→sig→bk chain fragments with every CTE name prefixed,
    * over an arbitrary (doc_id, text) source CTE — the SINGLE source of
    * the signature-chain SQL: the fixed-name constants above are the
    * p = "" / src = "reps" instance, and oracles needing TWO independent
    * chains (incremental dedup) instantiate distinct prefixes.
    */
  private def sigChainParts(p: String, srcRel: String): Seq[String] = Seq(
    raw"""${p}tk AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS t FROM $srcRel)""",
    s"""${p}shs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh FROM ${p}tk WHERE len(t) >= 3)""",
    s"""${p}sh AS (SELECT doc_id, unnest(sh) AS s FROM ${p}shs)""",
    s"${p}sig AS (SELECT doc_id, " + (0 until 8).map { i =>
      val (seed, piece) = (i / 4, i % 4)
      s"min(substr(md5('$seed|' || s), ${1 + 8 * piece}, 8)) AS mh$i"
    }.mkString(", ") + s" FROM ${p}sh GROUP BY doc_id)",
    s"${p}bk AS (SELECT doc_id, " + (0 until 8).map(i => s"mh$i").mkString(", ") +
      ", unnest([" +
      (0 until 4).map(b => s"'$b|' || mh${2 * b} || '|' || mh${2 * b + 1}").mkString(", ") +
      s"]) AS band_key FROM ${p}sig)")

  private def sqlSigChain(p: String, srcRel: String): String =
    sigChainParts(p, srcRel).mkString(", ")

  /** Tokenize→shingle CTEs for an arbitrary n-gram width (`{p}tk/{p}shs/
    * {p}sh`, ending in `{p}sh(doc_id, s)`) — for oracles that need plain
    * word shingles of a relation without the signature tail (decon
    * stages, which run WIDER grams than the LSH chain's 3).
    */
  private[operators] def sqlShingleChain(p: String, srcRel: String, n: Int): String =
    raw"""${p}tk AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS t FROM $srcRel), ${p}shs AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - ${n - 2}), i -> ${(0 until n).map(j => s"t[i+$j]").mkString(" || ' ' || ")})) AS sh FROM ${p}tk WHERE len(t) >= $n), ${p}sh AS (SELECT doc_id, unnest(sh) AS s FROM ${p}shs)"""

  /** The full exact-dedup → minhash-pairs → components → keep-minima CTE
    * chain over an arbitrary (doc_id, text) source relation, ending in a
    * `keep(doc_id)` CTE — the reusable oracle image of the near-dedup
    * stack for composed pipelines (the enclosing query must say WITH
    * RECURSIVE). Identical fragments to the standalone dedup oracles.
    */
  private[operators] def sqlDedupKeepChain(src: String): String =
    s"""reps AS (SELECT min(doc_id) AS doc_id, text FROM $src GROUP BY text), $tkCte, $shListCte, $shCte, $sigCte, $bkCte, $bkcCte, prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bkc a JOIN bkc b ON a.band_key = b.band_key AND a.doc_id < b.doc_id), e AS (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b AS src, id_a AS dst FROM prs), reach(id, label) AS (SELECT doc_id, doc_id FROM reps UNION SELECT e.dst, r.label FROM reach r JOIN e ON r.id = e.src), comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id), keep AS (SELECT r.doc_id FROM reps r JOIN comp cpx ON r.doc_id = cpx.id WHERE cpx.cluster = r.doc_id)"""

  /** Oracle image of [[Relational.bloomOf]]'s position `i`: hex digits
    * [8i+1, 8i+8] of md5 (byte offset 4i of Md5PrefixLong) parsed as an
    * unsigned 32-bit value, mod numBits. */
  private def sqlBloomPos(inner: String, i: Int, numBits: Int): String =
    "(" + (1 to 8).map(j =>
      s"((strpos('0123456789abcdef', substr(md5($inner), ${8 * i + j}, 1)) - 1)::BIGINT * ${1L << (4 * (8 - j))})")
      .mkString("(", " + ", ")") + s" % $numBits)"

  /** 4-nibble md5 draw on [0, 65536) of an id expression — the oracle
    * image of mixSources/hashSplit's deterministic RNG-free draw.
    */
  private[operators] def sqlDraw(idExpr: String): String =
    (1 to 4).map(j =>
      s"((strpos('0123456789abcdef', substr(md5(($idExpr)::VARCHAR), $j, 1)) - 1)::BIGINT * ${1L << (4 * (4 - j))})")
      .mkString("(", " + ", ")")

  /** 8-nibble md5 draw on [0, 2^32) — the oracle image of
    * softDedupByCluster's wide draw (rates down to 1/2^32). */
  private[operators] def sqlDraw32(idExpr: String): String =
    (1 to 8).map(j =>
      s"((strpos('0123456789abcdef', substr(md5(($idExpr)::VARCHAR), $j, 1)) - 1)::BIGINT * ${1L << (4 * (8 - j))})")
      .mkString("(", " + ", ")")

  private val nibV = (1 to 8).map(j =>
    s"((strpos('0123456789abcdef', substr(md5(s), $j, 1)) - 1)::BIGINT * ${1L << (4 * (8 - j))})")
    .mkString(" + ")
  private val sumCols = (0 until 32).map(i => s"sum(((v >> $i) & 1) * 2 - 1) AS s$i").mkString(", ")
  private val hExpr = (0 until 32).map(i => s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")

  /** DuckDB image of the md5 16-bit uniform draw in [[sampleWeighted]]:
    * first 4 hex digits of md5(doc_id) as an integer in [0, 65536). */
  private val drawSql = (1 to 4).map(j =>
    s"((strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), $j, 1)) - 1)::BIGINT * ${1L << (4 * (4 - j))})")
    .mkString("(", " + ", ")")

  /** reps → pairs → fixpoint chain ending in `comp(id, cluster)` — the
    * shared tail of every component-consuming oracle below. */
  private lazy val compChainCtes: String =
    s"""$repsCte, $tkCte, $shListCte, $shCte, $sigCte, $bkCte, $bkcCte, prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bkc a JOIN bkc b ON a.band_key = b.band_key AND a.doc_id < b.doc_id), e AS (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b AS src, id_a AS dst FROM prs), reach(id, label) AS (SELECT doc_id, doc_id FROM reps UNION SELECT e.dst, r.label FROM reach r JOIN e ON r.id = e.src), comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id)"""

  private lazy val componentsOracle: String =
    s"""WITH RECURSIVE $compChainCtes SELECT id AS doc_id, cluster FROM comp ORDER BY doc_id"""

  private lazy val bloomScreenOracle: String = {
    // the 3-gram shingle grain is pinned by the shared fixed chain
    // (tk/shs/sh); positions and the all-hashes test ride the same
    // constants as the Scala queries
    val bp = (0 until bloomHashes).map(i => sqlBloomPos("s", i, bloomBits))
    s"""WITH ${tkCteFrom("documents")}, $shListCte, $shCte, bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20), pos AS (SELECT DISTINCT unnest([${bp.mkString(", ")}]) AS p FROM bsh), tsh AS (SELECT doc_id, s FROM sh WHERE doc_id >= 20), tp AS (SELECT doc_id, s, unnest([${bp.mkString(", ")}]) AS p FROM tsh), tm AS (SELECT tp.doc_id, tp.s, count(pos.p)::BIGINT AS nm FROM tp LEFT JOIN pos ON tp.p = pos.p GROUP BY tp.doc_id, tp.s), g AS (SELECT tm.doc_id, (tm.nm = $bloomHashes) AS bloom_hit, (b.s IS NOT NULL) AS exact_hit FROM tm LEFT JOIN bsh b ON tm.s = b.s) SELECT doc_id, count(*)::BIGINT AS n_shingles, sum(bloom_hit::INT)::BIGINT AS bloom_hits, sum(exact_hit::INT)::BIGINT AS exact_hits, (sum(bloom_hit::INT) - sum(exact_hit::INT))::BIGINT AS bloom_fp, sum(bloom_hit::INT)::BIGINT > 0 AS flagged FROM g GROUP BY doc_id ORDER BY doc_id"""
  }

  // same component chain + the text_quality score arithmetic; argmax by
  // (quality DESC, id ASC) per cluster, keeper fanned back over cluster
  private lazy val keepBestOracle: String =
    s"""WITH RECURSIVE $compChainCtes, ${TextOps.sqlQualityCtes("documents")}, sc AS (SELECT comp.id AS doc_id, comp.cluster, qq.quality_score FROM comp JOIN qq ON qq.doc_id = comp.id), best AS (SELECT cluster, doc_id AS keep_id FROM (SELECT cluster, doc_id, row_number() OVER (PARTITION BY cluster ORDER BY quality_score DESC, doc_id ASC) AS rn FROM sc) WHERE rn = 1) SELECT sc.doc_id, sc.cluster, sc.quality_score, b.keep_id, sc.doc_id = b.keep_id AS kept FROM sc JOIN best b USING (cluster) ORDER BY sc.doc_id"""

  val registry: Seq[Query] = Seq(
    Query("dedup_minhash", Corpus,
      s"""WITH $repsCte, $tkCte, $shListCte, $shCte, $sigCte, $bkCte, $bkcCte SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, $estExpr AS est_sim FROM bkc a JOIN bkc b ON a.band_key = b.band_key AND a.doc_id < b.doc_id ORDER BY id_a, id_b""",
      (s, d) =>
        minhashPairs(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", n = 3, k = 8, rowsPerBand = 2)
          .orderBy("id_a", "id_b")),

    // the banding config's quality audit: LSH recall/precision vs
    // exact-Jaccard ground truth on a deterministic probe sample; the
    // candidate side is the SAME shared session pair index the dedup
    // queries run on (pairsOf) — auditing the exact artifact in use
    Query("dedup_lsh_eval", Answer,
      {
        val jac = graft.operators.Stable.sqlRatioRounded(
          "len(list_intersect(x.sh, y.sh))", "len(list_distinct(list_concat(x.sh, y.sh)))", 4)
        s"""WITH $repsCte, $tkCte, $shListCte, $shCte, $sigCte, $bkCte, $bkcCte, probes AS (SELECT doc_id FROM reps WHERE ${sqlDraw("doc_id")} % 16 = 0), dfok AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 64), shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfok USING (s)), psh AS (SELECT shr.doc_id AS probe_id, shr.s FROM shr JOIN probes ON shr.doc_id = probes.doc_id), rpc AS (SELECT p.probe_id, r.doc_id, count(*) AS shared FROM psh p JOIN shr r ON p.s = r.s AND p.probe_id != r.doc_id GROUP BY 1, 2), nsz AS (SELECT doc_id, len(sh) AS nsh FROM shs), nrz AS (SELECT doc_id, count(*) AS nshr FROM shr GROUP BY doc_id), szs AS (SELECT n.doc_id, n.nsh, n.nsh - r.nshr AS ncom FROM nsz n JOIN nrz r USING (doc_id)), rp AS (SELECT DISTINCT least(rpc.probe_id, rpc.doc_id) AS id_a, greatest(rpc.probe_id, rpc.doc_id) AS id_b FROM rpc JOIN szs a ON rpc.probe_id = a.doc_id JOIN szs b ON rpc.doc_id = b.doc_id WHERE (rpc.shared + least(a.ncom, b.ncom)) * 3 >= a.nsh + b.nsh), tr AS (SELECT rp.id_a, rp.id_b FROM rp JOIN shs x ON rp.id_a = x.doc_id JOIN shs y ON rp.id_b = y.doc_id WHERE $jac >= 0.5), cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bkc a JOIN bkc b ON a.band_key = b.band_key AND a.doc_id < b.doc_id), candp AS (SELECT id_a, id_b FROM cand WHERE id_a IN (SELECT doc_id FROM probes) OR id_b IN (SELECT doc_id FROM probes)), hit AS (SELECT t.id_a FROM tr t JOIN candp c ON t.id_a = c.id_a AND t.id_b = c.id_b), exz AS (SELECT n.doc_id FROM nsz n LEFT JOIN nrz r USING (doc_id) WHERE n.doc_id IN (SELECT doc_id FROM probes) AND (n.nsh - coalesce(r.nshr, 0)) * 10000 >= 5000 * n.nsh), m AS (SELECT (SELECT count(*) FROM probes) AS n_probes, (SELECT count(*) FROM tr) AS n_truth, (SELECT count(*) FROM candp) AS n_cand, (SELECT count(*) FROM hit) AS n_hit, (SELECT count(*) FROM exz) AS n_exposed) SELECT n_probes, n_truth, n_cand, n_hit, CASE WHEN n_truth > 0 THEN ${graft.operators.Stable.sqlRatioRounded("n_hit", "n_truth", 4)} END AS recall, CASE WHEN n_cand > 0 THEN ${graft.operators.Stable.sqlRatioRounded("n_hit", "n_cand", 4)} END AS precision, n_exposed, CASE WHEN n_probes > 0 THEN ${graft.operators.Stable.sqlRatioRounded("n_exposed", "n_probes", 4)} END AS exposure_bound FROM m"""
      },
      (s, d) =>
        lshEval(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", n = 3, k = 8, rowsPerBand = 2,
          probeMod = 16, dfCap = 64, threshold = 0.5,
          prebuiltReps = Some(repsOf(s, d)),
          prebuiltPairs = Some(pairsOf(s, d)))),

    // character-level verify over the same shared LSH candidate index
    Query("dedup_edit_verify", Corpus,
      // the minhash pair chain, texts joined back, full levenshtein with
      // the bound as a post-filter (DuckDB has no early-exit threshold
      // arg). ASCII-corpus caveat: DuckDB's levenshtein counts UTF-8
      // BYTES while Spark's counts codepoints — identical on this corpus
      // (pure ASCII, like the mm_chunks byte/char-slice note), divergent
      // on multi-byte text; a multilingual oracle would need both sides
      // normalized to one unit first
      s"""WITH $repsCte, $tkCte, $shListCte, $shCte, $sigCte, $bkCte, $bkcCte, prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bkc a JOIN bkc b ON a.band_key = b.band_key AND a.doc_id < b.doc_id), lv AS (SELECT id_a, id_b, levenshtein(da.text, db.text) AS lev, greatest(length(da.text), length(db.text)) AS ml FROM prs JOIN documents da ON prs.id_a = da.doc_id JOIN documents db ON prs.id_b = db.doc_id) SELECT id_a, id_b, lev::BIGINT AS edit_dist, ${Stable.sqlRatioRounded("ml - lev", "ml", 4)} AS edit_sim FROM lv WHERE lev <= 64 ORDER BY id_a, id_b""",
      (s, d) =>
        editVerifyOnPairs(pairsOf(s, d).select("id_a", "id_b"),
          Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", maxDist = 64)),

    // ingest increment (doc_id % 10 == 0) vs existing corpus (the rest);
    // signatures pulled from the shared session index by content hash
    Query("dedup_incremental", Corpus,
      // two independent signature chains (per-side exact-dedup reps), only
      // the batch buckets capped — mirrors incrementalPairs exactly
      s"""WITH bsrc AS (SELECT min(doc_id) AS doc_id, text FROM documents WHERE doc_id % 10 = 0 GROUP BY text), csrc AS (SELECT min(doc_id) AS doc_id, text FROM documents WHERE doc_id % 10 != 0 GROUP BY text), ${sqlSigChain("b", "bsrc")}, ${sqlSigChain("c", "csrc")}, bbkc AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY band_key ORDER BY doc_id) AS _rn FROM bbk) WHERE _rn <= $defaultBucketCap) SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id, $estExpr AS est_sim FROM bbkc a JOIN cbk b ON a.band_key = b.band_key ORDER BY batch_id, corpus_id""",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        incrementalPairs(
          corpus = docs.filter(col("doc_id") % 10 =!= 0),
          batch = docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 3, k = 8, rowsPerBand = 2,
          prebuiltSigs = Some(sigsByTextOf(s, d)))
          .orderBy("batch_id", "corpus_id")
      }),

    // dedup scoped per source: pairs never cross the source boundary;
    // per-scope reps join the shared signature index by content hash
    Query("dedup_scoped", Corpus,
      // scope rides the band key: reps per (source, text), buckets and cap
      // per source-prefixed band key — pairs cannot cross sources
      s"""WITH reps AS (SELECT source, min(doc_id) AS doc_id, text FROM documents GROUP BY source, text), $tkCte, $shListCte, $shCte, $sigCte, $bkCte, bks AS (SELECT b.doc_id, ${(0 until 8).map(i => s"b.mh$i").mkString(", ")}, r.source, r.source || '|' || b.band_key AS sband FROM bk b JOIN reps r USING (doc_id)), bkcs AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY sband ORDER BY doc_id) AS _rn FROM bks) WHERE _rn <= $defaultBucketCap) SELECT DISTINCT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b, $estExpr AS est_sim FROM bkcs a JOIN bkcs b ON a.sband = b.sband AND a.doc_id < b.doc_id ORDER BY a.source, id_a, id_b""",
      (s, d) =>
        minhashPairsScoped(Tables.documents(s, d).select("doc_id", "text", "source"),
          "doc_id", "text", scope = "source", n = 3, k = 8, rowsPerBand = 2,
          prebuiltSigs = Some(sigsByTextOf(s, d)))
          .orderBy("source", "id_a", "id_b")),

    // verify metrics run over the SHARED session pairs index (pairsOf);
    // dedup_minhash above remains the raw per-run-priced chain
    Query("dedup_ngram_jaccard", Corpus,
      {
        val jac = graft.operators.Stable.sqlRatioRounded(
          "len(list_intersect(x.sh, y.sh))", "len(list_distinct(list_concat(x.sh, y.sh)))", 4)
        s"""WITH $repsCte, $tkCte, $shListCte, $shCte, $sigCte, $bkCte, $bkcCte, cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bkc a JOIN bkc b ON a.band_key = b.band_key AND a.doc_id < b.doc_id) SELECT c.id_a, c.id_b, $jac AS jaccard FROM cand c JOIN shs x ON c.id_a = x.doc_id JOIN shs y ON c.id_b = y.doc_id WHERE $jac >= 0.5 ORDER BY id_a, id_b"""
      },
      (s, d) =>
        ngramJaccardOnPairs(pairsOf(s, d).select("id_a", "id_b"),
          Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", n = 3, threshold = 0.5)
          .orderBy("id_a", "id_b")),

    Query("dedup_simhash", Corpus,
      s"""WITH $repsCte, $tkCte, $shListCte, $shCte, hv AS (SELECT doc_id, $nibV AS v FROM sh), bits AS (SELECT doc_id, $sumCols FROM hv GROUP BY doc_id), simh AS (SELECT doc_id, ($hExpr)::BIGINT AS h FROM bits), blocks AS (SELECT doc_id, h, b, (h >> (8 * b)) & 255 AS blk FROM simh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bands), blkc AS (SELECT doc_id, h, b, blk FROM (SELECT *, row_number() OVER (PARTITION BY b, blk ORDER BY doc_id) AS _rn FROM blocks) WHERE _rn <= $defaultBucketCap) SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.h, b.h))::BIGINT AS hamming FROM blkc a JOIN blkc b ON a.b = b.b AND a.blk = b.blk AND a.doc_id < b.doc_id WHERE bit_count(xor(a.h, b.h)) <= 3 ORDER BY id_a, id_b""",
      (s, d) =>
        simhashPairs(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", n = 3, maxHamming = 3)
          .orderBy("id_a", "id_b")),

    // near-dup pairs -> dedup groups: components over the minhash pair
    // graph; cluster = the min member (the keeper). The exact-dedup
    // pre-pass runs ONCE (checkpointed) and feeds both the node set and
    // the pair generation.
    Query("dedup_components", Corpus,
      // the recursive CTE reaches the same unique min-label fixpoint the
      // Spark propagation loop converges to
      componentsOracle,
      (s, d) =>
        componentsOf(s, d).orderBy("doc_id")),

    // the component index's PERSISTENCE lifecycle (the sim_ivfpq_persisted
    // contract for the dedup family): the labelling written once as a
    // parquet artifact (atomic temp-dir + rename commit, served only
    // behind a _SUCCESS marker — Io.atomicParquetArtifact), read back and
    // served — identical answers to the in-session index, so the SAME
    // oracle; the read-back scan is two narrow columns
    Query("dedup_components_persisted", Corpus,
      componentsOracle,
      (s, d) => {
        graft.sources.Io.atomicParquetArtifact(s, componentsArtifactPath(s, d))(
            componentsOf(s, d))
          .orderBy("doc_id")
      }),

    // quality-aware keeper policy: each near-dup cluster keeps its
    // highest-quality member instead of the min id
    Query("dedup_keep_best", Corpus,
      keepBestOracle,
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        keepBest(componentsOf(s, d),
          TextOps.quality(docs, "text").select("doc_id", "quality_score"),
          "doc_id", "quality_score")
          .orderBy("doc_id")
      }),

    // the whole near-dedup pass composed: exact dedup -> minhash pairs ->
    // components -> keep each cluster's min doc (with its exact-copy
    // count riding along). Output = the clean corpus.
    Query("dedup_pipeline_e2e", Corpus,
      // keep each cluster's min member with its exact-copy count: the same
      // reach fixpoint, filtered to self-labelled nodes, joined to the
      // per-content counts
      s"""WITH RECURSIVE reps AS (SELECT min(doc_id) AS doc_id, count(*) AS n_dupes, text FROM documents GROUP BY text), $tkCte, $shListCte, $shCte, $sigCte, $bkCte, $bkcCte, prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bkc a JOIN bkc b ON a.band_key = b.band_key AND a.doc_id < b.doc_id), e AS (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b AS src, id_a AS dst FROM prs), reach(id, label) AS (SELECT doc_id, doc_id FROM reps UNION SELECT e.dst, r.label FROM reach r JOIN e ON r.id = e.src), comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id) SELECT r.doc_id, r.n_dupes FROM reps r JOIN comp c ON r.doc_id = c.id WHERE c.cluster = r.doc_id ORDER BY r.doc_id""",
      (s, d) =>
        repsOf(s, d).join(componentsOf(s, d), "doc_id")
          .filter(col("doc_id") === col("cluster"))
          .select("doc_id", "n_dupes")
          .orderBy("doc_id")),

    // training-mix composition: deterministic weighted keep per source
    Query("mix_sources", Corpus,
      // deterministic weighted mix: 4-nibble md5 draw under rate*65536
      s"""SELECT doc_id, source FROM documents WHERE $drawSql < (CASE WHEN source = 'src0' THEN 0.9 WHEN source = 'src1' THEN 0.1 ELSE 0.5 END) * 65536 ORDER BY doc_id""",
      (s, d) =>
        mixSources(Tables.documents(s, d).select("doc_id", "source"),
          sourceCol = "source", idCol = "doc_id",
          rates = Map("src0" -> 0.9, "src1" -> 0.1), defaultRate = 0.5)
          .orderBy("doc_id")),

    // the dedup run's summary report: how big are the near-dup clusters?
    // (cluster DOC size -> number of clusters). Everything corpus-sized
    // is already spent building components; the histogram itself is two
    // tiny aggs over |reps| rows.
    Query("dedup_size_hist", Corpus,
      s"""WITH RECURSIVE reps AS (SELECT min(doc_id) AS doc_id, count(*) AS n_dupes, text FROM documents GROUP BY text), $tkCte, $shListCte, $shCte, $sigCte, $bkCte, $bkcCte, prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bkc a JOIN bkc b ON a.band_key = b.band_key AND a.doc_id < b.doc_id), e AS (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b AS src, id_a AS dst FROM prs), reach(id, label) AS (SELECT doc_id, doc_id FROM reps UNION SELECT e.dst, r.label FROM reach r JOIN e ON r.id = e.src), comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id), sizes AS (SELECT c.cluster, sum(r.n_dupes)::BIGINT AS cluster_docs FROM reps r JOIN comp c ON r.doc_id = c.id GROUP BY c.cluster) SELECT cluster_docs, count(*) AS n_clusters FROM sizes GROUP BY cluster_docs ORDER BY cluster_docs""",
      (s, d) =>
        clusterSizesOf(s, d)
          .select("cluster", "cluster_docs").distinct()
          .groupBy("cluster_docs").agg(count(lit(1)).as("n_clusters"))
          .orderBy("cluster_docs")),

    // probabilistic near-dup downweighting: expected one copy per cluster
    Query("sample_soft_dedup", Corpus,
      s"""WITH RECURSIVE reps AS (SELECT min(doc_id) AS doc_id, count(*) AS n_dupes, text FROM documents GROUP BY text), $tkCte, $shListCte, $shCte, $sigCte, $bkCte, $bkcCte, prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bkc a JOIN bkc b ON a.band_key = b.band_key AND a.doc_id < b.doc_id), e AS (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b AS src, id_a AS dst FROM prs), reach(id, label) AS (SELECT doc_id, doc_id FROM reps UNION SELECT e.dst, r.label FROM reach r JOIN e ON r.id = e.src), comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id), sizes AS (SELECT c.cluster, sum(r.n_dupes)::BIGINT AS cluster_docs FROM reps r JOIN comp c ON r.doc_id = c.id GROUP BY c.cluster), m AS (SELECT d.doc_id, c.cluster, s.cluster_docs FROM documents d JOIN reps r ON d.text = r.text JOIN comp c ON r.doc_id = c.id JOIN sizes s ON c.cluster = s.cluster) SELECT doc_id, cluster, cluster_docs FROM m WHERE ${sqlDraw32("doc_id")} < (1.0 / cluster_docs) * 4294967296 ORDER BY doc_id""",
      (s, d) =>
        softDedupByCluster(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", prebuilt = Some(clusterSizesOf(s, d)))
          .orderBy("doc_id")),

    // cluster-granular split: near-dups never straddle train/test
    Query("sample_leakage_split", Corpus,
      // the soft-dedup mapping chain, split drawn on the CLUSTER id (the
      // 4-nibble 16-bit draw sample_hash_split uses, over cluster::VARCHAR)
      {
        val draw = (1 to 4).map(j =>
          s"((strpos('0123456789abcdef', substr(md5(cluster::VARCHAR), $j, 1)) - 1)::BIGINT * ${1L << (4 * (4 - j))})")
          .mkString("(", " + ", ")")
        s"""WITH RECURSIVE reps AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text), $tkCte, $shListCte, $shCte, $sigCte, $bkCte, $bkcCte, prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bkc a JOIN bkc b ON a.band_key = b.band_key AND a.doc_id < b.doc_id), e AS (SELECT id_a AS src, id_b AS dst FROM prs UNION ALL SELECT id_b AS src, id_a AS dst FROM prs), reach(id, label) AS (SELECT doc_id, doc_id FROM reps UNION SELECT e.dst, r.label FROM reach r JOIN e ON r.id = e.src), comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id), m AS (SELECT d.doc_id, c.cluster FROM documents d JOIN reps r ON d.text = r.text JOIN comp c ON r.doc_id = c.id) SELECT doc_id, cluster, CASE WHEN $draw < 0.8 * 65536 THEN 'train' WHEN $draw < 0.9 * 65536 THEN 'val' ELSE 'test' END AS split FROM m ORDER BY doc_id"""
      },
      (s, d) =>
        leakageSafeSplit(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", "text", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          prebuilt = Some(clusterSizesOf(s, d)))
          .orderBy("doc_id")),

    // fractional epochs: src0 contributes 2.3 epochs, src1 exactly 1,
    // everything else 0.5 — the upsample knob of a training mix
    Query("sample_upsample", Corpus,
      // the dedup_components recursive chain (reps carrying exact-copy
      // counts) + cluster doc sizes + the WIDE (32-bit) md5 draw under 1/size
      // same floor/fraction split: whole epochs explode, the fractional
      // copy rides the md5 draw
      s"""WITH w AS (SELECT doc_id, source, CASE WHEN source = 'src0' THEN 2.3 WHEN source = 'src1' THEN 1.0 ELSE 0.5 END AS wt FROM documents), c AS (SELECT doc_id, source, floor(wt)::BIGINT + (CASE WHEN $drawSql < (wt - floor(wt)) * 65536 THEN 1 ELSE 0 END) AS copies FROM w) SELECT doc_id, source, unnest(generate_series(1, copies)) AS epoch FROM c WHERE copies >= 1 ORDER BY doc_id, epoch""",
      (s, d) => {
        val w = when(col("source") === "src0", 2.3)
          .when(col("source") === "src1", 1.0)
          .otherwise(0.5)
        upsampleWeighted(Tables.documents(s, d).select("doc_id", "source"),
          "doc_id", w)
          .select("doc_id", "source", "epoch")
          .orderBy("doc_id", "epoch")
      }),

    // per-row weighted keep: upsample long docs (weight = n_chars/2000, capped)
    Query("sample_weighted", Corpus,
      s"""SELECT doc_id, source, n_chars FROM documents WHERE $drawSql < least(n_chars / 2000.0, 1.0) * 65536 ORDER BY doc_id""",
      (s, d) =>
        sampleWeighted(Tables.documents(s, d).select("doc_id", "source", "n_chars"),
          idCol = "doc_id", weight = least(col("n_chars") / lit(2000.0), lit(1.0)))
          .orderBy("doc_id")),

    // temperature-flattened multilingual mix (α = 0.5): head languages
    // downsampled toward the smallest language's share
    Query("mix_temperature", Corpus,
      // same tiny count agg + sqrt rate + md5 draw, stated relationally;
      // the NUL-sentinel coalesce mirrors mixTemperatureHalf so NULL
      // langs group (and survive) identically in both engines
      s"""WITH cnt AS (SELECT coalesce(lang, chr(1) || 'null') AS lang_k, count(*) AS n FROM documents GROUP BY 1), mn AS (SELECT min(n) AS nmin FROM cnt), rate AS (SELECT lang_k, sqrt(nmin::DOUBLE / n::DOUBLE) AS r FROM cnt CROSS JOIN mn) SELECT d.doc_id, d.lang FROM documents d JOIN rate ON coalesce(d.lang, chr(1) || 'null') = rate.lang_k WHERE $drawSql < r * 65536 ORDER BY doc_id""",
      (s, d) =>
        mixTemperatureHalf(Tables.documents(s, d).select("doc_id", "lang"),
          sourceCol = "lang", idCol = "doc_id")
          .select("doc_id", "lang")
          .orderBy("doc_id")),

    // epoch/budget planning table for a 60/30/10 mix over a 10M-token
    // budget with a 4-epoch repetition cap
    Query("mix_token_budget", Answer,
      // per-source token sums + integer-arithmetic targets + Stable epochs
      // LEFT JOIN from weights → avail so the headline contract (a
      // configured source absent from the corpus surfaces with avail 0 /
      // NULL epochs / over_cap true) is oracle-encoded end-to-end
      raw"""WITH avail AS (SELECT source, sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS avail_tokens FROM documents GROUP BY source), w(source, weight_pct) AS (VALUES ('src0', 60), ('src1', 30), ('src2', 10)), t AS (SELECT w.source, w.weight_pct::BIGINT AS weight_pct, coalesce(a.avail_tokens, 0)::BIGINT AS avail_tokens, ((10000000 * w.weight_pct) // 100)::BIGINT AS target_tokens FROM w LEFT JOIN avail a ON a.source = w.source) SELECT source, weight_pct, avail_tokens, target_tokens, CASE WHEN avail_tokens = 0 THEN NULL ELSE ${graft.operators.Stable.sqlRatioRounded("target_tokens", "avail_tokens", 4)} END AS epochs, target_tokens > avail_tokens * 4.0 AS over_cap FROM t ORDER BY source""",
      (s, d) =>
        mixTokenBudget(Tables.documents(s, d).select("source", "text"),
          sourceCol = "source", textCol = "text",
          weightsPct = Seq(("src0", 60L), ("src1", 30L), ("src2", 10L)),
          budgetTokens = 10000000L, epochCap = 4.0)
          .orderBy("source")),

    // the same planner denominated in TRUE tokenizer tokens: per-doc BPE
    // counts (session-artifact merge table) roll up to per-source
    // availability before the identical budget arithmetic
    Query("mix_token_budget_bpe", Answer,
      // identical arithmetic over the BPE-denominated availability: the
      // per-doc encode replay rolls up through the documents' source column
      s"""WITH ${graft.operators.TextOps.bpePerDocCtes(graft.operators.TextOps.bpeMergeK)}, avail AS (SELECT d.source, sum(b.bpe_tokens)::BIGINT AS avail_tokens FROM documents d JOIN bpd b USING (doc_id) GROUP BY d.source), w(source, weight_pct) AS (VALUES ('src0', 60), ('src1', 30), ('src2', 10)), t AS (SELECT w.source, w.weight_pct::BIGINT AS weight_pct, coalesce(a.avail_tokens, 0)::BIGINT AS avail_tokens, ((10000000 * w.weight_pct) // 100)::BIGINT AS target_tokens FROM w LEFT JOIN avail a ON a.source = w.source) SELECT source, weight_pct, avail_tokens, target_tokens, CASE WHEN avail_tokens = 0 THEN NULL ELSE ${graft.operators.Stable.sqlRatioRounded("target_tokens", "avail_tokens", 4)} END AS epochs, target_tokens > avail_tokens * 4.0 AS over_cap FROM t ORDER BY source""",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val perDoc = graft.operators.TextOps.bpeEncode(
          docs.select("doc_id", "text"), "doc_id", "text",
          graft.operators.TextOps.mergesFor(s, d))
        val avail = docs.select("doc_id", "source").join(perDoc, Seq("doc_id"))
          .groupBy(col("source")).agg(sum("bpe_tokens").as("avail_tokens"))
        mixTokenBudgetOf(avail,
          weightsPct = Seq(("src0", 60L), ("src1", 30L), ("src2", 10L)),
          budgetTokens = 10000000L, epochCap = 4.0)
          .orderBy("source")
      }),

    // verbatim-phrase contamination: probe = first 5 tokens of each
    // benchmark doc (the first 20 docs), scanned against the whole corpus
    Query("decon_exact", Answer,
      raw"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS t FROM documents WHERE doc_id < 20), ph AS (SELECT doc_id AS bench_id, array_to_string(t[1:5], ' ') AS phrase FROM tk WHERE len(t) >= 5) SELECT d.doc_id, p.bench_id FROM documents d CROSS JOIN ph p WHERE d.doc_id != p.bench_id AND strpos(regexp_replace(d.text, '\s+', ' ', 'g'), p.phrase) > 0 ORDER BY d.doc_id, p.bench_id""",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        exactContamination(docs, docs.filter(col("doc_id") < 20),
          "doc_id", "text", k = 5)
          .orderBy("doc_id", "bench_id")
      }),

    // "benchmark" = the first 20 docs; training corpus = everything
    Query("decon_overlap", Answer,
      {
        val frac = graft.operators.Stable.sqlRatioRounded("sv.shared", "bz.bench_sh", 4)
        s"""WITH ${tkCteFrom("documents")}, $shListCte, $shCte, bsh AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id < 20), bz AS (SELECT doc_id AS bench_id, len(sh) AS bench_sh FROM shs WHERE doc_id < 20), sh2 AS (SELECT t.doc_id, b.bench_id, count(*) AS shared FROM sh t JOIN bsh b ON t.s = b.s AND t.doc_id != b.bench_id GROUP BY t.doc_id, b.bench_id) SELECT sv.doc_id, sv.bench_id, sv.shared, $frac AS overlap_frac FROM sh2 sv JOIN bz ON sv.bench_id = bz.bench_id WHERE $frac >= 0.2 ORDER BY sv.doc_id, sv.bench_id"""
      },
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        contaminationPairs(docs, docs.filter(col("doc_id") < 20),
          "doc_id", "text", n = 3, threshold = 0.2)
          .orderBy("doc_id", "bench_id")
      }),

    // NEAR-dup decontamination — the paraphrase-level complement of the
    // exact-overlap decon above, and the LSH scale path: the benchmark
    // rides as the broadcast "batch" side of incrementalPairs, so the
    // corpus never shuffles; output = corpus docs suspiciously close to
    // any benchmark doc
    Query("decon_minhash", Corpus,
      // the incremental chain with benchmark/corpus predicates
      s"""WITH bsrc AS (SELECT min(doc_id) AS doc_id, text FROM documents WHERE doc_id < 20 GROUP BY text), csrc AS (SELECT min(doc_id) AS doc_id, text FROM documents WHERE doc_id >= 20 GROUP BY text), ${sqlSigChain("b", "bsrc")}, ${sqlSigChain("c", "csrc")}, bbkc AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY band_key ORDER BY doc_id) AS _rn FROM bbk) WHERE _rn <= $defaultBucketCap) SELECT DISTINCT a.doc_id AS bench_id, b.doc_id AS corpus_id, $estExpr AS est_sim FROM bbkc a JOIN cbk b ON a.band_key = b.band_key ORDER BY bench_id, corpus_id""",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        incrementalPairs(
          corpus = docs.filter(col("doc_id") >= 20),
          batch = docs.filter(col("doc_id") < 20),
          "doc_id", "text", n = 3, k = 8, rowsPerBand = 2,
          prebuiltSigs = Some(sigsByTextOf(s, d)))
          .select(col("batch_id").as("bench_id"), col("corpus_id"), col("est_sim"))
          .orderBy("bench_id", "corpus_id")
      }),

    // broadcast-sketch contamination screen, graded in-query against the
    // exact join (bloom_fp = the screen's measured false-positive surplus)
    Query("decon_bloom_screen", Corpus,
      // recompute each shingle's 4 bit positions and test membership in the
      // bench side's position SET — sparse-set semantics of the same bitmap,
      // so bloom_hit matches the Scala bit tests bit-for-bit
      bloomScreenOracle,
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        bloomContamination(
          train = docs.filter(col("doc_id") >= 20),
          bench = docs.filter(col("doc_id") < 20),
          "doc_id", "text", n = bloomN, numBits = bloomBits, numHashes = bloomHashes)
          .orderBy("doc_id")
      }),

    // the bloom sketch's PERSISTENCE lifecycle (benchmarks change rarely;
    // the screen reruns per ingest batch): the word table committed once
    // as an atomic parquet artifact and probed from the read-back —
    // identical answers, so the SAME oracle as the in-session build
    Query("decon_bloom_persisted", Corpus,
      bloomScreenOracle,
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val bench = docs.filter(col("doc_id") < 20)
        val path = bloomArtifactPath(bench, d)
        val words = Relational.collectBloomWords(
          graft.sources.Io.atomicParquetArtifact(s, path)(
            Relational.bloomWordsDf(
              explodeShingles(bench, "doc_id", "text", bloomN)
                .select(col("sh").as("s")).distinct(),
              "s", bloomBits, bloomHashes)),
          bloomBits)
        bloomContamination(
          train = docs.filter(col("doc_id") >= 20), bench = bench,
          "doc_id", "text", n = bloomN, numBits = bloomBits,
          numHashes = bloomHashes, prebuiltWords = Some(words))
          .orderBy("doc_id")
      })
  )
}
