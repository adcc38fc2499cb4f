package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{Exact, OracleHash}
import graft.model.Tables
import graft.util.Pin.PinOps

/** Similarity search + near-duplicate detection + multimodal columns
  * over the `embeddings` feature vectors and `documents` corpus.
  *
  * Generalizes the reference's 58,368-dim VGG16 feature vector
  * (reference: queue_time_predictions/preprocess_image.py:176-195) to
  * the LLM-pipeline operators a 100 TB training-data build needs:
  * brute-force cosine top-k as the correctness baseline, sign-bit LSH
  * bucketing as the scale path (probe only touches its own bucket —
  * the scan prunes to ~1/2^bits of the data), MinHash/LSH banding for
  * near-dup candidate generation (all-pairs is O(N²) and never runs;
  * band collisions emit the only pairs ever compared), SimHash
  * fingerprints, and binary multimodal payloads carried through joins
  * with a clearly-marked deterministic stub decode (the real JPEG
  * decode of preprocess_image.py:36-54 needs an image library this
  * container doesn't ship; the Spark-side plumbing — schema, join,
  * digesting — is real).
  */
object SimOps {

  /** MinHash/LSH banding shape: k = bands × rows-per-band. Declared
    * before `all` (whose oracle SQL interpolates them at object
    * init). */
  private val MinhashK = 8
  private val MinhashBands = 4
  private val MinhashR = 2

  /** LSH jumbo-bucket skew guard (same cap as levPairs' maxBlock). */
  private val MaxBucket = 100

  /** Sign-bit LSH bucket over the first `bits` vector components
    * (random-hyperplane LSH with axis-aligned planes — deterministic
    * and oracle-expressible; a production variant draws dense Gaussian
    * planes, same operator shape). */
  def lshBucket(e: Column, bits: Int = 8): Column =
    (0 until bits).map { i =>
      when(element_at(e, i + 1) > lit(0.0), lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  def lshBucketSql(e: String, bits: Int = 8): String =
    (0 until bits).map { i =>
      s"(CASE WHEN ($e)[${i + 1}] > 0.0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Modulus of the minhash hash families: the Mersenne prime 2³¹−1.
    * Reducing the 60-bit base hash mod P first keeps every product in
    * the affine step under 2⁶² — no BIGINT overflow, so the arithmetic
    * is ANSI-safe in Spark and bit-identical in DuckDB. */
  val FamP: Long = 2147483647L

  /** The k (a, b) affine minhash families over Z_P, derived from two
    * fixed 64-bit mixing constants (a ∈ [1, P−1], b ∈ [0, P−1]). One
    * multiply-add per family replaces a per-family md5 rehash — same
    * one-strong-hash minhash construction, ~8× less hashing work per
    * shingle — while both engines still agree bit-for-bit. */
  def minhashFamilies(k: Int = 8): Seq[(Long, Long)] =
    (0 until k).map { i =>
      val a = Math.floorMod(0x9E3779B97F4A7C15L * (2 * i + 1), FamP - 1) + 1
      val b = Math.floorMod(-0x3D4D51C2D82B14B1L * (i + 1), FamP)
      (a, b)
    }

  /** Family hash of a non-negative base hash `h`:
    * ((h mod P) · a + b) mod P. */
  def famHash(h: Column, a: Long, b: Long): Column =
    pmod(pmod(h, lit(FamP)) * lit(a) + lit(b), lit(FamP))

  /** DuckDB rendition of [[famHash]] (`h` is non-negative, so `%` and
    * pmod agree). */
  def famHashSql(h: String, a: Long, b: Long): String =
    s"((($h) % $FamP) * $a + $b) % $FamP"

  /** MinHash signature from per-shingle base hashes: the k affine
    * families each take the minimum of [[famHash]] over the ONE
    * string-derived base hash per shingle (the standard
    * one-strong-hash minhash construction). Every step is
    * oracle-replicable, so signature queries can be DuckDB-gated. */
  def minhashSigFromHashes(hs: Column, k: Int = 8): Column =
    array(minhashFamilies(k).map { case (a, b) =>
      array_min(transform(hs, h => famHash(h, a, b)))
    }: _*)

  /** MinHash signature of a shingle set (hashes each shingle once,
    * then derives the k families). */
  def minhashSig(sh: Column, k: Int = 8): Column =
    minhashSigFromHashes(transform(sh, s => OracleHash.h64(s)), k)

  /** Position multipliers of the 3-token shingle combine (distinct
    * odd constants in [1, P−1], derived like [[minhashFamilies]] but
    * from a third mixing constant — order-sensitive, so permuted
    * shingles hash apart). */
  val ShingleC: Seq[Long] = (0 until 3).map(i =>
    Math.floorMod(0xFF51AFD7ED558CCDL * (2 * i + 3), FamP - 1) + 1)

  /** Order-sensitive combine of three consecutive token hashes over
    * Z_P: Σᵢ cᵢ·(tᵢ mod P) mod P. Each product stays under 2⁶² and
    * each summand under 2³¹ (ANSI-safe, no overflow); pure BIGINT
    * arithmetic that DuckDB replicates bit-for-bit — and ~2× cheaper
    * than the previous md5-over-rendered-triple, which paid a second
    * md5 per shingle on top of the per-token one. 31-bit shingle ids
    * collide with probability ~n²/2³² per doc (n ≈ 10² shingles ⇒
    * ~10⁻⁵) — immaterial for dedup signatures, and a production
    * deployment that drops the cross-engine oracle swaps a 64-bit
    * xxhash64 combine in through this same seam. */
  def shingleCombine(t1: Column, t2: Column, t3: Column): Column =
    pmod(Seq(t1, t2, t3).zip(ShingleC)
      .map { case (t, c) => pmod(pmod(t, lit(FamP)) * lit(c), lit(FamP)) }
      .reduce(_ + _), lit(FamP))

  /** DuckDB rendition of [[shingleCombine]] (token hashes are
    * non-negative, so `%` and pmod agree). */
  def shingleCombineSql(t1: String, t2: String, t3: String): String =
    Seq(t1, t2, t3).zip(ShingleC)
      .map { case (t, c) => s"((($t) % $FamP) * $c) % $FamP" }
      .mkString("(", " + ", s") % $FamP")

  /** Distinct 3-token shingle hashes from an already-materialized
    * token-hash array column (`th` MUST be a bound attribute, not an
    * inline transform — otherwise every element_at re-evaluates it):
    * a shingle hash combines three consecutive token hashes via the
    * oracle-replicable [[shingleCombine]]. */
  def shingleHashesFromTokenHashes(th: Column): Column = {
    val n = size(th)
    when(n >= 3,
      array_distinct(transform(sequence(lit(1), n - lit(2)),
        i => shingleCombine(element_at(th, i),
          element_at(th, i + 1), element_at(th, i + 2)))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Token-hash array of a text column (hash each token once). */
  def tokenHashes(text: Column): Column =
    transform(split(text, " "), tk => OracleHash.h64(tk))

  /** 64-bit SimHash from per-token hashes: per bit, the majority vote
    * over tokens of that hash bit (±1), folded into a single long. */
  def simhashFromHashes(hs: Column, nTokens: Column): Column =
    (0 until 64).map { b =>
      val ones = aggregate(hs, lit(0),
        (acc, h) => acc + when(
          shiftright(h, b).bitwiseAND(lit(1L)) === lit(1L), lit(1))
          .otherwise(lit(0)))
      when(ones * 2 > nTokens, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  val all: Seq[QueryDef] = Seq(

    // --- Brute-force cosine top-k against a probe vector: the
    // correctness baseline for ANN. The 1-row probe is broadcast; the
    // scan side stays un-shuffled; top-k plans as TakeOrderedAndProject
    // (per-partition heaps, no global sort).
    QueryDef("q_cosine_topk",
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val probe = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("probe_emb"))
        // fan the one-task corpus scan out before the exact-decimal
        // cosine kernel (guide §2.5; the kernel, not the 2k rows, is
        // the cost — same trade as pqBest)
        graft.util.Par.fanOut(emb.filter(col("vec_id") =!= 0)
            .select(col("vec_id"), col("embedding")))
          .crossJoin(broadcast(probe))
          .select(col("vec_id"),
            Exact.cosineF(col("embedding"), col("probe_emb")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH probe AS (SELECT embedding AS probe_emb FROM embeddings WHERE vec_id = 0)
SELECT vec_id, ${Exact.cosineFSql("embedding", "probe_emb")} AS cos
FROM embeddings, probe WHERE vec_id <> 0
ORDER BY cos DESC, vec_id LIMIT 10""")),

    // --- k-NN join: top-k neighbors for a SET of probe vectors in one
    // pass (the batch shape of similarity search — scoring a probe
    // batch, not one query). Probes broadcast; the corpus scan stays
    // un-shuffled and scores all probes per row; the per-probe top-k
    // runs on the native GroupTopK operator, so the exchange carries
    // at most k rows per probe per map task — NOT the full scored
    // cross product (probes × corpus rows), which is what the window
    // rendition would shuffle. At 100 TB: corpus-partition-local heaps
    // of k × |probes| rows, then a tiny merge.
    QueryDef("q_knn_join",
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val probes = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"),
            col("embedding").as("probe_emb"))
        // fan the one-task corpus scan out before the per-(probe, row)
        // exact-decimal cosine kernel (guide §2.5)
        val scored = graft.util.Par.fanOut(emb.filter(col("vec_id") >= 5)
            .select(col("vec_id"), col("embedding")))
          .crossJoin(broadcast(probes))
          .select(col("probe_id"), col("vec_id"),
            Exact.cosineF(col("embedding"), col("probe_emb")).as("cos"))
        graft.plans.GroupTopK.topK(scored, Seq("probe_id"),
          Seq(("cos", true), ("vec_id", false)), 3)
          .orderBy(col("probe_id"), col("cos").desc, col("vec_id"))
      },
      Some(s"""WITH probes AS (
  SELECT vec_id AS probe_id, embedding AS probe_emb
  FROM embeddings WHERE vec_id < 5)
SELECT probe_id, vec_id, cos FROM (
  SELECT probe_id, vec_id,
    ${Exact.cosineFSql("embedding", "probe_emb")} AS cos,
    row_number() OVER (PARTITION BY probe_id
      ORDER BY ${Exact.cosineFSql("embedding", "probe_emb")} DESC NULLS LAST,
        vec_id) AS rn
  FROM embeddings, probes WHERE vec_id >= 5) WHERE rn <= 3
ORDER BY probe_id, cos DESC NULLS LAST, vec_id""")),

    // --- LSH-bucketed ANN: the scale path. Both sides bucket by sign
    // bits; the probe joins only its own bucket (expected candidate
    // set = N / 2^bits), then exact cosine re-ranks. At 100 TB the
    // bucket column is the partition key and the probe scan prunes to
    // one partition.
    QueryDef("q_ann_lsh",
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"),
            lshBucket(col("embedding")).as("bucket"))
        val probe = emb.filter(col("vec_id") === 0)
          .select(col("bucket").as("p_bucket"), col("embedding").as("probe_emb"))
        emb.filter(col("vec_id") =!= 0)
          .join(broadcast(probe), col("bucket") === col("p_bucket"))
          .select(col("vec_id"), col("bucket"),
            Exact.cosineF(col("embedding"), col("probe_emb")).as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH b AS (
  SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket FROM embeddings),
probe AS (SELECT bucket AS p_bucket, embedding AS probe_emb FROM b WHERE vec_id = 0)
SELECT vec_id, bucket, ${Exact.cosineFSql("embedding", "probe_emb")} AS cos
FROM b, probe WHERE vec_id <> 0 AND bucket = p_bucket
ORDER BY cos DESC, vec_id LIMIT 10""")),

    // --- ANN quality contract: recall@10 of the LSH-bucketed path
    // against the exact brute-force ranking, per probe — the number
    // that decides whether an approximate index is shippable. Both
    // rankings are deterministic (exact cosine, vec_id tiebreak) and
    // the LSH buckets are the same sign-bit construction on both
    // engines, so recall is hash-exact oracle-gated, not a tolerance
    // test. Scale shape: both candidate streams ride broadcast probes
    // + GroupTopK partial heaps (shuffle carries ≤k rows per probe
    // per map task); the recall join touches k×|probes| rows total.
    QueryDef("q_ann_recall",
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val probes = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"),
            col("embedding").as("probe_emb"),
            lshBucket(col("embedding")).as("p_bucket"))
        // fanned: both ranking branches re-run this subtree and each
        // pays the exact-cosine kernel per (probe, row) — the heavy
        // post-exchange work is exactly what should parallelize
        val corpus = graft.util.Par.fanOut(emb.filter(col("vec_id") >= 5)
            .select(col("vec_id"), col("embedding")))
          .select(col("vec_id"), col("embedding"),
            lshBucket(col("embedding")).as("bucket"))
        val exact = graft.plans.GroupTopK.topK(
          corpus.crossJoin(broadcast(probes))
            .select(col("probe_id"), col("vec_id"),
              Exact.cosineF(col("embedding"), col("probe_emb")).as("cos")),
          Seq("probe_id"), Seq(("cos", true), ("vec_id", false)), 10)
        val approx = graft.plans.GroupTopK.topK(
          corpus.join(broadcast(probes), col("bucket") === col("p_bucket"))
            .select(col("probe_id"), col("vec_id"),
              Exact.cosineF(col("embedding"), col("probe_emb")).as("cos")),
          Seq("probe_id"), Seq(("cos", true), ("vec_id", false)), 10)
        val nLsh = approx.groupBy(col("probe_id"))
          .agg(count(lit(1)).as("n_lsh"))
        exact.join(approx.select(col("probe_id"), col("vec_id"),
            lit(1).as("hit")), Seq("probe_id", "vec_id"), "left")
          .groupBy(col("probe_id"))
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("hit"), lit(0))).as("n_hit"))
          .join(nLsh, Seq("probe_id"), "left")
          .select(col("probe_id"), col("n_exact"),
            coalesce(col("n_lsh"), lit(0L)).as("n_lsh"), col("n_hit"),
            (col("n_hit").cast("double") / col("n_exact").cast("double"))
              .as("recall"))
          .orderBy(col("probe_id"))
      },
      Some(s"""WITH b AS (
  SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket
  FROM embeddings),
probes AS (
  SELECT vec_id AS probe_id, embedding AS probe_emb, bucket AS p_bucket
  FROM b WHERE vec_id < 5),
corpus AS (SELECT vec_id, embedding, bucket FROM b WHERE vec_id >= 5),
exact AS (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id
      ORDER BY ${Exact.cosineFSql("embedding", "probe_emb")} DESC NULLS LAST,
        vec_id) AS rn
    FROM corpus, probes) WHERE rn <= 10),
appr AS (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id
      ORDER BY ${Exact.cosineFSql("embedding", "probe_emb")} DESC NULLS LAST,
        vec_id) AS rn
    FROM corpus JOIN probes ON bucket = p_bucket) WHERE rn <= 10),
nl AS (SELECT probe_id, count(*) AS n_lsh FROM appr GROUP BY probe_id),
j AS (
  SELECT e.probe_id, count(*) AS n_exact,
    sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM exact e LEFT JOIN appr a
    ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
  GROUP BY e.probe_id)
SELECT j.probe_id, CAST(n_exact AS BIGINT) AS n_exact,
  CAST(coalesce(n_lsh, 0) AS BIGINT) AS n_lsh,
  CAST(n_hit AS BIGINT) AS n_hit,
  CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
FROM j LEFT JOIN nl ON nl.probe_id = j.probe_id
ORDER BY j.probe_id""")),

    // --- Embedding-cosine near-duplicate pairs: LSH bucket self-join
    // (never all-pairs — candidates are bucket-mates, expected
    // N²/2^bits of the pair space) + exact cosine filter. At 100 TB
    // the bucket is the shuffle/partition key; candidate volume is
    // tuned by the bit count.
    QueryDef("q_embed_neardup",
      (spark, dir) => {
        // Norms are computed ONCE per vector before the join (N norm
        // evaluations instead of 2 per candidate pair) — only the dot
        // product runs per pair.
        // probe side fanned (guide §2.5): the per-pair exact dot
        // product runs in the a-side stage once b broadcasts
        val emb = graft.util.Par.fanOut(Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("embedding")))
          .select(col("vec_id"), col("embedding"),
            lshBucket(col("embedding")).as("bucket"),
            sqrt(Exact.sumSq(col("embedding"))).as("norm"))
        val a = emb.select(col("vec_id").as("id_a"),
          col("embedding").as("emb_a"), col("bucket"), col("norm").as("norm_a"))
        val b = emb.select(col("vec_id").as("id_b"),
          col("embedding").as("emb_b"), col("bucket"), col("norm").as("norm_b"))
        a.join(b, Seq("bucket"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("cos", Exact.dotF(col("emb_a"), col("emb_b"))
            / (col("norm_a") * col("norm_b")))
          .filter(col("cos") > 0.3)
          .select(col("id_a"), col("id_b"), col("bucket"), col("cos"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH b AS (
  SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket,
    sqrt(${Exact.sumSqSql("embedding")}) AS norm
  FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b, a.bucket AS bucket,
    ${Exact.dotFSql("a.embedding", "c.embedding")} / (a.norm * c.norm) AS cos
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
SELECT id_a, id_b, bucket, cos FROM p WHERE cos > 0.3
ORDER BY id_a, id_b""")),

    // --- MinHash + LSH banding near-dup candidates. Shingle →
    // 8-family minhash signature → 4 bands of 2 hashes (collision
    // probability per band = j², sharpening the threshold; production
    // pretraining dedup tunes (b, r) to its target Jaccard) →
    // equi-join on (band, key) emits candidate pairs; signature
    // agreement estimates Jaccard. Jumbo buckets (> MaxBucket docs)
    // are dropped before pairing — the standard LSH skew guard: a
    // bucket shared by thousands of docs is quadratic in cost and
    // useless as a dedup signal. Base hashes are the md5-derived
    // [[OracleHash.h64]] and the k families are affine transforms
    // mod 2³¹−1 ([[famHash]]) — both replicated bit-for-bit by
    // DuckDB, so unlike the usual xxhash64 rendition this one IS
    // oracle-gated end to end (and hashes each shingle string once,
    // not k+1 times).
    QueryDef("q_minhash_neardup",
      (spark, dir) => minhashPairs(spark, dir)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $MinhashPairsCteSql
SELECT id_a, id_b, n_shared_bands, est_jaccard
FROM cand ORDER BY id_a, id_b""")),

    // --- MinHash accuracy contract: for every banding candidate pair,
    // the signature-agreement Jaccard ESTIMATE next to the EXACT
    // shingle-set Jaccard and their absolute error — the row that
    // tells a dedup operator whether (k, bands, rows) is tuned right.
    // Every quantity is deterministic on both engines (the same
    // md5-derived shingle hashes, integer intersection counts, one
    // double division), so unlike a statistical tolerance test this
    // is hash-exact oracle-gated. Scale shape: exact Jaccard is
    // computed ONLY for candidate pairs (banding already capped
    // bucket fan-out), via two hash joins of the (doc, shingle-h64)
    // table — never an all-pairs pass; the shuffle carries 8-byte
    // hashes.
    QueryDef("q_minhash_est_check",
      (spark, dir) => {
        // ONE shingle materialization feeds the signature build AND
        // both exact-intersection join sides (md5 per token runs once,
        // not twice).
        val sh = shingleRows(spark, dir).pinned()
        val cand = minhashPairs(spark, dir, Some(sh))
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val inter = cand.select(col("id_a"), col("id_b"))
          .join(sh.select(col("doc_id").as("id_a"), col("h")), Seq("id_a"))
          .join(sh.select(col("doc_id").as("id_b"), col("h")),
            Seq("id_b", "h"))
          .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("i"))
        val ji = coalesce(col("i"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("i"), lit(0L))).cast("double")
        cand.join(inter, Seq("id_a", "id_b"), "left")
          .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")),
            Seq("id_a"))
          .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")),
            Seq("id_b"))
          .select(col("id_a"), col("id_b"), col("est_jaccard"),
            ji.as("exact_jaccard"),
            abs(col("est_jaccard") - ji).as("abs_err"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $MinhashPairsCteSql,
ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b AND b.h = a.h
  GROUP BY c.id_a, c.id_b)
SELECT c.id_a, c.id_b, c.est_jaccard,
  CAST(coalesce(i, 0) AS DOUBLE)
    / CAST(na.n + nb.n - coalesce(i, 0) AS DOUBLE) AS exact_jaccard,
  abs(c.est_jaccard - CAST(coalesce(i, 0) AS DOUBLE)
    / CAST(na.n + nb.n - coalesce(i, 0) AS DOUBLE)) AS abs_err
FROM cand c
LEFT JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
JOIN ns na ON na.doc_id = c.id_a
JOIN ns nb ON nb.doc_id = c.id_b
ORDER BY c.id_a, c.id_b""")),

    // --- SimHash fingerprint: 64-bit locality-sensitive digest of the
    // token stream (near-identical docs differ in few bits; hamming
    // distance over bit_count(a XOR b) finds near-dups without pair
    // enumeration). Token hashes computed once per row; the per-bit
    // majorities run as one codegen'd hash aggregation computing all
    // 64 bit-majority counts map-side (the equivalent HOF fold is
    // interpreted and ~10× slower); semantics identical to
    // simhashFromHashes (SimOpsSpec pins it). Built on the
    // md5-derived [[OracleHash.h64]] (top 60 bits ⇒ bits 60-63 of the
    // fingerprint are always 0), so DuckDB replicates the fingerprint
    // exactly and the query is oracle-gated.
    QueryDef("q_simhash",
      (spark, dir) => {
        // fan out before the md5-per-token hash + explode + 65-column
        // partial bit-majority aggregate (guide §2.5)
        val exploded = graft.util.Par.fanOut(Tables.documents(spark, dir)
            .select(col("doc_id"), col("text")))
          .select(col("doc_id"), explode(tokenHashes(col("text"))).as("h"))
        val bitCols = (0 until 64).map { b =>
          sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === lit(1L),
            lit(1)).otherwise(lit(0))).as(s"b$b")
        }
        val counted = exploded.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n"), bitCols: _*)
        val simhash = (0 until 64).map { b =>
          when(col(s"b$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _)
        counted
          .select(col("doc_id"), simhash.as("simhash"))
          .withColumn("popcount", bit_count(col("simhash")))
          .orderBy(col("doc_id"))
      },
      Some(simhashSql)),

    // --- Multimodal payloads through a join: documents gain a binary
    // payload + typed metadata struct, join embeddings on id, output
    // scalar digests (md5 of the bytes, decimal-exact vector norm).
    // The binary column flows through the shuffle like any other —
    // this is the S2 image-bytes shape (preprocess_image.py:36-54)
    // with parquet BinaryType standing in for S3 JPEGs.
    QueryDef("q_multimodal_join",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"),
            encode(col("text"), "UTF-8").as("payload"))
          .withColumn("meta", struct(lit("text/plain").as("mime"),
            length(col("payload")).as("n_bytes")))
        docs.join(Tables.embeddings(spark, dir),
          col("doc_id") === col("vec_id"))
          .select(col("doc_id"), col("lang"),
            col("meta.mime").as("mime"),
            col("meta.n_bytes").as("n_bytes"),
            md5(col("payload")).as("payload_md5"),
            col("label"),
            Exact.sumSq(col("embedding")).as("emb_sumsq"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, lang,
  'text/plain' AS mime,
  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
  md5(text) AS payload_md5,
  label,
  ${Exact.sumSqSql("embedding")} AS emb_sumsq
FROM documents JOIN embeddings ON doc_id = vec_id
ORDER BY doc_id""")),

    // --- REAL image decode + resize + feature extraction on the
    // JDK's javax.imageio (reference S2/P2,
    // preprocess_image.py:36-54 cv2.imdecode, :56-74 resize). Each
    // doc gets a deterministic real PNG (pixel (x,y) color is a
    // closed form in doc_id — see ImageCodec.rgbOf), which then runs
    // the genuine chain: PNG decode → channel-sum features →
    // nearest-neighbor ÷2 downsample → lossless re-encode → second
    // decode. PNG losslessness + exact NN sampling make every output
    // analytically computable, so the whole decode chain is
    // oracle-gated — upgraded round 8 from the digest stub. All
    // three kernels are per-row narrow maps inside whole-stage
    // codegen (native Catalyst expressions, not UDFs); binary
    // payloads never leave the executor.
    QueryDef("q_multimodal_decode",
      (spark, dir) => {
        import org.apache.spark.sql.graftbridge.GraftColumns.{column => gc, expression => ge}
        val png = gc(graft.functions.PngSynth(ge(col("doc_id"))))
        // sort first (the one range exchange the query always paid),
        // decode after: the per-row PNG encode/decode/resize chain
        // then runs on the post-shuffle partitions instead of the
        // one-task single-file scan stage (guide §2.5)
        graft.util.Par.sortedFanOut(
          Tables.documents(spark, dir).select(col("doc_id")),
          col("doc_id"))
          .select(col("doc_id"), png.as("payload"))
          .select(col("doc_id"),
            gc(graft.functions.PngDecodeStats(ge(col("payload")))).as("st"),
            gc(graft.functions.PngDecodeStats(ge(gc(
              graft.functions.PngResizeNN(ge(col("payload")), 2))))).as("rs"))
          .select(col("doc_id"),
            element_at(col("st"), 1).as("width"),
            element_at(col("st"), 2).as("height"),
            element_at(col("st"), 3).as("n_channels"),
            element_at(col("st"), 4).as("sum_r"),
            element_at(col("st"), 5).as("sum_g"),
            element_at(col("st"), 6).as("sum_b"),
            element_at(col("rs"), 1).as("resized_w"),
            element_at(col("rs"), 2).as("resized_h"),
            element_at(col("rs"), 4).as("rsum_r"),
            element_at(col("rs"), 5).as("rsum_g"),
            element_at(col("rs"), 6).as("rsum_b"))
        // total order already established by sortedFanOut (unique doc_id)
      },
      Some("""WITH d AS (
  SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 4 AS h
  FROM documents),
px AS (
  SELECT doc_id, w, h, p % w AS x, p // w AS y
  FROM (SELECT doc_id, w, h, unnest(range(w * h)) AS p FROM d)),
full_sums AS (
  SELECT doc_id,
    CAST(sum((31 * x + 17 * y + doc_id) % 256) AS BIGINT) AS sum_r,
    CAST(sum((13 * x + 7 * y + 2 * doc_id) % 256) AS BIGINT) AS sum_g,
    CAST(sum((5 * x + 3 * y + 3 * doc_id) % 256) AS BIGINT) AS sum_b
  FROM px GROUP BY doc_id),
rpx AS (
  SELECT doc_id, w // 2 AS rw, h // 2 AS rh,
    2 * (p % (w // 2)) AS x, 2 * (p // (w // 2)) AS y
  FROM (SELECT doc_id, w, h, unnest(range((w // 2) * (h // 2))) AS p
        FROM d)),
r_sums AS (
  SELECT doc_id,
    CAST(sum((31 * x + 17 * y + doc_id) % 256) AS BIGINT) AS rsum_r,
    CAST(sum((13 * x + 7 * y + 2 * doc_id) % 256) AS BIGINT) AS rsum_g,
    CAST(sum((5 * x + 3 * y + 3 * doc_id) % 256) AS BIGINT) AS rsum_b
  FROM rpx GROUP BY doc_id)
SELECT d.doc_id,
  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
  CAST(3 AS BIGINT) AS n_channels,
  sum_r, sum_g, sum_b,
  CAST(w // 2 AS BIGINT) AS resized_w, CAST(h // 2 AS BIGINT) AS resized_h,
  rsum_r, rsum_g, rsum_b
FROM d JOIN full_sums USING (doc_id) JOIN r_sums USING (doc_id)
ORDER BY doc_id""")),

    // --- Edit-distance near-dup (the classic the other four families
    // skip: exact digest, MinHash, SimHash, n-gram Jaccard — this one
    // catches small in-place edits). Prefix blocking keeps it off the
    // O(N²) cliff: docs only pair within a shared 16-char prefix
    // block, so the join is an equi hash join on the block key and the
    // quadratic levenshtein runs per block, not per corpus; the
    // distance is computed on an 80-char head so per-pair cost is
    // bounded no matter how long documents get. At 100 TB the block
    // key shuffles both sides once; a JUMBO-BLOCK GUARD (same cap as
    // q_minhash_neardup's maxBucket) drops blocks above maxBlock docs
    // before pairing — a boilerplate prefix shared by 10⁵ docs would
    // otherwise be a quadratic block, and as a dedup signal a
    // 16-char prefix that common carries no information anyway. The
    // cap is part of the operator's semantics: the oracle states the
    // identical HAVING bound, so results match at every SF.
    QueryDef("q_lev_neardup",
      (spark, dir) => levPairs(spark, dir, fan = true)
        .orderBy(col("a_id"), col("b_id")),
      Some(s"""WITH $LevPairsSql
SELECT a_id, b_id, dist FROM pairs ORDER BY a_id, b_id""")),

    // --- Per-label embedding centroids: the set-at-a-time form of
    // IVF/k-means "train the coarse quantizer" and of semantic-cluster
    // summarization. The scalable vector-mean shape is posexplode →
    // (label, dim) partial-aggregated sum/count: the shuffle carries
    // one row per (label, dim) PER MAP PARTITION (map-side combine),
    // never per vector — there is no per-vector state anywhere.
    // Exactness: each coordinate is first quantized to a 1e-6 integer
    // grid (round-on-double is tie-parity-safe cross-engine — both
    // round half away from zero on the dyadic expansion; a
    // float→DECIMAL cast is NOT, Spark HALF_UP vs DuckDB HALF_EVEN
    // diverge on exact ties), then summed in BIGINT — an exact,
    // association-order-free fold, so a 1000-executor run and the
    // single-node oracle agree bit-for-bit.
    // Output contract: one (label, dim, c, n_vectors) row per
    // coordinate — all-scalar columns, per the driver comparator's
    // scalars-only canonicalization (Relational.scala's convention).
    // The array-rebuilding rendition lives in `centroidArrays` below
    // (consumed by the SQL-side IVF build and plan-pinned in
    // ScaleSpec); it is deliberately NOT the gated output.
    QueryDef("q_centroids",
      (spark, dir) => centroidRows(spark, dir)
        .select(col("label"), col("dim"),
          (col("s").cast("double") / lit(1e6) / col("n")).as("c"),
          col("n").as("n_vectors"))
        .orderBy(col("label"), col("dim")),
      Some("""WITH e AS (
  SELECT label, unnest(embedding) AS x,
    unnest(range(len(embedding))) AS dim
  FROM embeddings)
SELECT label, CAST(dim AS INT) AS dim,
  CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
    / 1000000.0 / count(*) AS c,
  count(*) AS n_vectors
FROM e GROUP BY label, dim ORDER BY label, dim""")),

    // --- Int8 scalar quantization of embeddings (symmetric max-abs):
    // the 4× storage/scan-shrink every 100 TB vector corpus applies
    // before ANN serving. Pure narrow map — per-vector max|x|, scale
    // to [-127, 127], round, and report the max reconstruction error,
    // all inside whole-stage codegen with no shuffle before the
    // output sort. Both engines round half away from zero on DOUBLE,
    // and every step is double arithmetic on identical inputs, so the
    // oracle is exact. Zero vectors quantize to zeros (scale guard).
    // Output contract: the int8 vector itself is verified through
    // exact BIGINT checksums — position-weighted sum Σ q_i·(i+1),
    // squared sum Σ q_i², and min/max — instead of the raw array,
    // per the driver comparator's scalars-only canonicalization.
    // The weighted + squared pair pins both values and positions:
    // any single-element change moves at least one of them.
    QueryDef("q_quantize8",
      (spark, dir) => {
        val xd: Column => Column = x => x.cast("double")
        val mx = array_max(transform(col("embedding"), x => abs(xd(x))))
        val scale = lit(127.0) / col("max_abs")
        Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"), mx.as("max_abs"))
          .select(col("vec_id"), col("max_abs"),
            when(col("max_abs") === 0.0,
              transform(col("embedding"), _ => lit(0)))
              .otherwise(transform(col("embedding"),
                x => round(xd(x) * scale).cast("int"))).as("qvec"),
            when(col("max_abs") === 0.0, lit(0.0))
              .otherwise(array_max(transform(col("embedding"),
                x => abs(xd(x) - round(xd(x) * scale) / scale))))
              .as("max_err"))
          .select(col("vec_id"), col("max_abs"),
            aggregate(zip_with(col("qvec"),
                sequence(lit(1), size(col("qvec"))),
                (q, i) => q.cast("bigint") * i),
              lit(0L), (acc, v) => acc + v).as("qsum"),
            aggregate(col("qvec"), lit(0L),
              (acc, q) => acc + q.cast("bigint") * q).as("qss"),
            array_min(col("qvec")).as("qmin"),
            array_max(col("qvec")).as("qmax"),
            col("max_err"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH m AS (
  SELECT vec_id, max_abs,
    CASE WHEN max_abs = 0
      THEN list_transform(embedding, x -> 0)
      ELSE list_transform(embedding,
        x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / max_abs)) AS INT)) END
      AS qvec,
    CASE WHEN max_abs = 0 THEN 0.0
      ELSE list_max(list_transform(embedding,
        x -> abs(CAST(x AS DOUBLE)
          - round(CAST(x AS DOUBLE) * (127.0 / max_abs))
            / (127.0 / max_abs)))) END
      AS max_err
  FROM (
    SELECT vec_id, embedding,
      list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
        AS max_abs
    FROM embeddings)),
e AS (
  SELECT vec_id, unnest(qvec) AS q,
    unnest(range(1, len(qvec) + 1)) AS i
  FROM m),
c AS (
  SELECT vec_id,
    CAST(sum(CAST(q AS BIGINT) * i) AS BIGINT) AS qsum,
    CAST(sum(CAST(q AS BIGINT) * q) AS BIGINT) AS qss,
    min(q) AS qmin, max(q) AS qmax
  FROM e GROUP BY vec_id)
SELECT m.vec_id, m.max_abs, c.qsum, c.qss, c.qmin, c.qmax, m.max_err
FROM m JOIN c USING (vec_id) ORDER BY vec_id""")),

    // --- SQL-side IVF index BUILD: the per-label centroids
    // (centroidArrays — the q_centroids op) become the coarse
    // quantizer, every vector is assigned to its nearest centroid
    // cell, and the query emits the per-cell inventory an IVF index
    // needs (cell size, native-label purity, exact total assignment
    // distance). This unifies ml/Ann (whose KMeans quantizer is
    // spec-pinned because training isn't SQL) with the SQL-side
    // centroid op: same operator shape, but label-seeded centers make
    // the whole build ORACLE-GATED end to end.
    // Scale shape: the quantizer is 10 cells × 64 dims of broadcast
    // state; assignment is a narrow map over the corpus (crossJoin
    // with a broadcast 10-row table, argmin via min(struct) — a
    // map-side-combinable aggregate, NOT a window); the only shuffles
    // carry (vec_id, cell) pairs and then per-cell partials.
    // Exactness: d² is a per-element double fold rounded to
    // DECIMAL(20,12) per term (the dotFDeclarative pattern — both
    // engines sum exact decimals, so association order is free);
    // cross-vector totals ride Exact.decSum.
    QueryDef("q_ann_ivf_build",
      (spark, dir) => {
        val cents = centroidArrays(spark, dir)
          .select(col("label").as("cell"), col("centroid"))
        // native codegen'd kernel — bit-identical to the declarative
        // decimal fold (ExactSpec), ~10× less per-pair overhead on
        // the corpus × cells hot loop
        val d2 = Exact.sqDistFD(col("embedding"), col("centroid"))
        // fanned (guide §2.5): the corpus × 10-cell decimal distance
        // kernel is the cost; assignment consumed once
        graft.util.Par.fanOut(Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("label"), col("embedding")))
          .crossJoin(broadcast(cents))
          .select(col("vec_id"), col("label"), col("cell"), d2.as("d2"))
          .groupBy(col("vec_id"), col("label"))
          .agg(min(struct(col("d2"), col("cell"))).as("m"))
          .select(col("vec_id"), col("label"),
            col("m.cell").as("cell"), col("m.d2").as("d2"))
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n_assigned"),
            sum(when(col("label") === col("cell"), lit(1L))
              .otherwise(lit(0L))).as("n_native"),
            Exact.decSum(col("d2")).as("d2_sum"))
          .orderBy(col("cell"))
      },
      Some(s"""WITH e AS (
  SELECT label, unnest(embedding) AS x,
    unnest(range(len(embedding))) AS dim
  FROM embeddings),
g AS (
  SELECT label, dim,
    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
      / 1000000.0 / count(*) AS c
  FROM e GROUP BY label, dim),
cents AS (
  SELECT label AS cell, list(c ORDER BY dim) AS cent
  FROM g GROUP BY label),
pairs AS (
  SELECT v.vec_id, v.label, c.cell,
    CAST(list_sum(list_transform(range(1, len(v.embedding) + 1),
      i -> CAST((CAST(v.embedding[i] AS DOUBLE) - c.cent[i])
        * (CAST(v.embedding[i] AS DOUBLE) - c.cent[i])
        AS DECIMAL(20,12)))) AS DOUBLE) AS d2
  FROM embeddings v CROSS JOIN cents c),
a AS (
  SELECT vec_id, label, cell, d2
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY d2, cell) AS rn FROM pairs)
  WHERE rn = 1)
SELECT cell, CAST(count(*) AS BIGINT) AS n_assigned,
  CAST(sum(CASE WHEN label = cell THEN 1 ELSE 0 END) AS BIGINT)
    AS n_native,
  ${graft.functions.Exact.decSumSql("d2")} AS d2_sum
FROM a GROUP BY cell ORDER BY cell""")),

    // --- Contrastive-pair mining for embedding training: per anchor,
    // the best POSITIVE (highest cosine, same label) and the HARD
    // NEGATIVE (highest cosine, different label) plus the margin —
    // the triplet/contrastive batch-construction op every
    // metric-learning pipeline runs over its corpus. Scale shape:
    // the 8 anchors broadcast onto the corpus scan (the big side
    // never shuffles); per-(anchor, polarity) argmax rides the
    // native GroupTopK (k = 1 partial heaps — shuffle carries ≤2
    // rows per anchor per map partition); the final pivot is an
    // 16-row groupBy. Exactness: cosine on the exact-decimal kernel,
    // margin is one double subtraction of identical operands.
    QueryDef("q_hard_negatives",
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val anchors = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("anchor_id"),
            col("embedding").as("a_emb"), col("label").as("a_label"))
        val scored = graft.util.Par.fanOut(emb.filter(col("vec_id") >= 8)
            .select(col("vec_id"), col("label"), col("embedding")))
          .crossJoin(broadcast(anchors))
          .select(col("anchor_id"),
            (col("label") === col("a_label")).cast("int").as("is_pos"),
            col("vec_id"),
            Exact.cosineF(col("embedding"), col("a_emb")).as("cos"))
        val best = graft.plans.GroupTopK.topK(scored,
          Seq("anchor_id", "is_pos"),
          Seq(("cos", true), ("vec_id", false)), 1)
        best.groupBy(col("anchor_id"))
          .agg(
            max(when(col("is_pos") === 1, col("vec_id"))).as("pos_id"),
            max(when(col("is_pos") === 1, col("cos"))).as("pos_cos"),
            max(when(col("is_pos") === 0, col("vec_id"))).as("neg_id"),
            max(when(col("is_pos") === 0, col("cos"))).as("neg_cos"))
          .select(col("anchor_id"), col("pos_id"), col("pos_cos"),
            col("neg_id"), col("neg_cos"),
            (col("pos_cos") - col("neg_cos")).as("margin"))
          .orderBy(col("anchor_id"))
      },
      Some(s"""WITH a AS (
  SELECT vec_id AS anchor_id, embedding AS a_emb, label AS a_label
  FROM embeddings WHERE vec_id < 8),
s AS (
  SELECT a.anchor_id,
    CAST(CASE WHEN e.label = a.a_label THEN 1 ELSE 0 END AS INT)
      AS is_pos,
    e.vec_id,
    ${Exact.cosineFSql("e.embedding", "a.a_emb")} AS cos
  FROM embeddings e CROSS JOIN a WHERE e.vec_id >= 8),
r AS (
  SELECT *, row_number() OVER (PARTITION BY anchor_id, is_pos
    ORDER BY cos DESC, vec_id) AS rn
  FROM s)
SELECT anchor_id,
  max(CASE WHEN is_pos = 1 THEN vec_id END) AS pos_id,
  max(CASE WHEN is_pos = 1 THEN cos END) AS pos_cos,
  max(CASE WHEN is_pos = 0 THEN vec_id END) AS neg_id,
  max(CASE WHEN is_pos = 0 THEN cos END) AS neg_cos,
  max(CASE WHEN is_pos = 1 THEN cos END)
    - max(CASE WHEN is_pos = 0 THEN cos END) AS margin
FROM r WHERE rn = 1 GROUP BY anchor_id ORDER BY anchor_id""")),

    // --- Matryoshka truncation evaluation: retrieval overlap between
    // full-dimension cosine top-10 and first-16-dims cosine top-10,
    // per probe, plus the probe's prefix-norm ratio — the measurement
    // every MRL-style embedding deployment runs before switching its
    // serving index to truncated vectors (4× cheaper scan for
    // measured recall loss). Scale shape: probes broadcast; BOTH
    // rankings ride GroupTopK partial heaps off one shared scored
    // scan; the overlap join touches 10 rows per probe. Exactness:
    // both cosines on the exact-decimal kernel (slice keeps float
    // arrays), norm ratio is IEEE sqrt + one division.
    QueryDef("q_matryoshka",
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val pre: Column => Column = e => slice(e, 1, 16)
        val probes = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
        // fanned: scored feeds BOTH top-k branches, each re-running
        // the two exact-cosine kernels per (probe, row)
        val scored = graft.util.Par.fanOut(emb.filter(col("vec_id") >= 5)
            .select(col("vec_id"), col("embedding")))
          .crossJoin(broadcast(probes))
          .select(col("probe_id"), col("vec_id"),
            Exact.cosineF(col("embedding"), col("p_emb")).as("cos_full"),
            Exact.cosineF(pre(col("embedding")), pre(col("p_emb")))
              .as("cos_pre"))
        val topFull = graft.plans.GroupTopK.topK(
          scored.select(col("probe_id"), col("vec_id"), col("cos_full")),
          Seq("probe_id"), Seq(("cos_full", true), ("vec_id", false)), 10)
        val topPre = graft.plans.GroupTopK.topK(
          scored.select(col("probe_id"), col("vec_id"), col("cos_pre")),
          Seq("probe_id"), Seq(("cos_pre", true), ("vec_id", false)), 10)
        val overlap = topFull
          .join(topPre.select(col("probe_id"), col("vec_id"),
            lit(1).as("hit")), Seq("probe_id", "vec_id"), "left")
          .groupBy(col("probe_id"))
          .agg(sum(coalesce(col("hit"), lit(0))).as("n_overlap"))
        probes.select(col("probe_id"),
          (sqrt(Exact.sumSq(pre(col("p_emb")))) /
            sqrt(Exact.sumSq(col("p_emb")))).as("norm_ratio"))
          .join(overlap, Seq("probe_id"))
          .select(col("probe_id"), col("n_overlap"), col("norm_ratio"))
          .orderBy(col("probe_id"))
      },
      Some(s"""WITH p AS (
  SELECT vec_id AS probe_id, embedding AS p_emb
  FROM embeddings WHERE vec_id < 5),
s AS (
  SELECT p.probe_id, e.vec_id,
    ${Exact.cosineFSql("e.embedding", "p.p_emb")} AS cos_full,
    ${Exact.cosineFSql("e.embedding[1:16]", "p.p_emb[1:16]")} AS cos_pre
  FROM embeddings e CROSS JOIN p WHERE e.vec_id >= 5),
tf AS (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id
      ORDER BY cos_full DESC, vec_id) AS rn FROM s) WHERE rn <= 10),
tp AS (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id
      ORDER BY cos_pre DESC, vec_id) AS rn FROM s) WHERE rn <= 10),
ov AS (
  SELECT tf.probe_id, CAST(count(tp.vec_id) AS BIGINT) AS n_overlap
  FROM tf LEFT JOIN tp
    ON tf.probe_id = tp.probe_id AND tf.vec_id = tp.vec_id
  GROUP BY tf.probe_id)
SELECT p.probe_id, ov.n_overlap,
  sqrt(${Exact.sumSqSql("p.p_emb[1:16]")})
    / sqrt(${Exact.sumSqSql("p.p_emb")}) AS norm_ratio
FROM p JOIN ov ON p.probe_id = ov.probe_id ORDER BY p.probe_id""")),

    // --- Media decode AUDIT under poison rows: every 97th payload is
    // corrupted (PNG signature stripped) before the REAL ImageIO
    // decode; corrupt bytes must decode to SQL NULL — not kill the
    // stage — and the per-language rollup proves it: decoded count,
    // poison count, and the decoded width sum all match the oracle's
    // closed forms. This is the operational contract of a 100 TB
    // media crawl (some fraction of every crawl is truncated), gated
    // end to end rather than asserted: if decode ever started
    // throwing on bad bytes, this query would fail the driver gate,
    // not just a unit test.
    QueryDef("q_decode_audit",
      (spark, dir) => {
        import org.apache.spark.sql.graftbridge.GraftColumns.{column => gc, expression => ge}
        val png = gc(graft.functions.PngSynth(ge(col("doc_id"))))
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), png.as("payload"))
          // strip the 8-byte PNG signature on poison rows → undecodable
          .select(col("doc_id"), col("lang"),
            when(col("doc_id") % 97 === 0,
              substring(col("payload"), 9, 1 << 24))
              .otherwise(col("payload")).as("payload"))
          .select(col("doc_id"), col("lang"),
            gc(graft.functions.PngDecodeStats(ge(col("payload")))).as("st"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("st").isNotNull, 1L).otherwise(0L)).as("n_decoded"),
            sum(when(col("st").isNull, 1L).otherwise(0L)).as("n_poison"),
            sum(when(col("st").isNotNull, element_at(col("st"), 1))
              .otherwise(0L)).as("width_sum"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN doc_id % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT)
    AS n_decoded,
  CAST(sum(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_poison,
  CAST(sum(CASE WHEN doc_id % 97 = 0 THEN 0
    ELSE 8 + doc_id % 8 END) AS BIGINT) AS width_sum
FROM documents GROUP BY lang ORDER BY lang""")),

    // --- SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    // dedup = cluster the embedding space, then drop near-duplicates
    // WITHIN each cluster — the pairwise cosine never runs globally.
    // This engine's rendition is fully oracle-gated: the clusters are
    // the label-seeded exact centroids (same assignment kernel as
    // q_ann_ivf_build — broadcast 10-cell quantizer, ExactSqDistFD
    // argmin), and within a cluster candidates are further blocked by
    // the sign-LSH bucket (the q_embed_neardup block), so the
    // quadratic is bounded by the (cell × bucket) co-occurrence — at
    // 100 TB the block key is the one shuffle and block sizes are
    // tuned by the bit count, exactly like the other near-dup ops.
    // Cross-block near-dups are out of scope BY DEFINITION (SemDeDup
    // itself only dedups within a cluster); the oracle states the
    // identical blocking, so both engines see the same pair space.
    // Keep-rule: a vector is dropped iff an EARLIER vector (smaller
    // vec_id) in its block has cosine ≥ τ — deterministic canonical
    // choice, same rule as the text dedup family. Output is the
    // per-cell dedup profile (scalars only, per the output contract).
    QueryDef("q_semdedup",
      (spark, dir) => {
        val cents = centroidArrays(spark, dir)
          .select(col("label").as("cell"), col("centroid"))
        // fanned (guide §2.5): the ×10-cell sqDist kernel is the cost
        // and the assignment is consumed once
        val cellOf = graft.util.Par.fanOut(Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("embedding")))
          .crossJoin(broadcast(cents))
          .select(col("vec_id"),
            Exact.sqDistFD(col("embedding"), col("centroid")).as("d2"),
            col("cell"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("d2"), col("cell"))).as("m"))
          .select(col("vec_id"), col("m.cell").as("cell"))
        val z = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"),
            lshBucket(col("embedding")).as("bucket"),
            sqrt(Exact.sumSq(col("embedding"))).as("norm"))
          .join(cellOf, "vec_id")
          .pinned() // both self-join sides + the rollup reuse it
        val a = z.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
          col("cell"), col("bucket"), col("norm").as("norm_a"))
        val b = z.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
          col("cell"), col("bucket"), col("norm").as("norm_b"))
        val dropped = a.join(b, Seq("cell", "bucket"))
          .filter(col("id_b") < col("id_a"))
          .filter(Exact.dotF(col("emb_a"), col("emb_b"))
            / (col("norm_a") * col("norm_b")) >= 0.3)
          .select(col("id_a").as("vec_id")).distinct()
          .withColumn("is_dup", lit(1L))
        z.join(dropped, Seq("vec_id"), "left")
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n_total"),
            sum(coalesce(col("is_dup"), lit(0L))).as("n_dropped"),
            (count(lit(1)) - sum(coalesce(col("is_dup"), lit(0L))))
              .as("n_kept"))
          .orderBy(col("cell"))
      },
      Some(s"""WITH e AS (
  SELECT label, unnest(embedding) AS x,
    unnest(range(len(embedding))) AS dim
  FROM embeddings),
g AS (
  SELECT label, dim,
    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
      / 1000000.0 / count(*) AS c
  FROM e GROUP BY label, dim),
cents AS (
  SELECT label AS cell, list(c ORDER BY dim) AS cent
  FROM g GROUP BY label),
dists AS (
  SELECT v.vec_id, c.cell,
    CAST(list_sum(list_transform(range(1, len(v.embedding) + 1),
      i -> CAST((CAST(v.embedding[i] AS DOUBLE) - c.cent[i])
        * (CAST(v.embedding[i] AS DOUBLE) - c.cent[i])
        AS DECIMAL(20,12)))) AS DOUBLE) AS d2
  FROM embeddings v CROSS JOIN cents c),
assign AS (
  SELECT vec_id, cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY d2, cell) AS rn FROM dists)
  WHERE rn = 1),
z AS (
  SELECT b.vec_id, b.embedding, b.bucket, b.norm, assign.cell
  FROM (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket,
          sqrt(${Exact.sumSqSql("embedding")}) AS norm
        FROM embeddings) b
  JOIN assign ON assign.vec_id = b.vec_id),
drp AS (
  SELECT DISTINCT x.vec_id
  FROM z x JOIN z y ON x.cell = y.cell AND x.bucket = y.bucket
    AND y.vec_id < x.vec_id
  WHERE ${Exact.dotFSql("x.embedding", "y.embedding")}
    / (x.norm * y.norm) >= 0.3)
SELECT z.cell, CAST(count(*) AS BIGINT) AS n_total,
  CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dropped,
  CAST(count(*) - sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
    AS BIGINT) AS n_kept
FROM z LEFT JOIN drp d ON d.vec_id = z.vec_id
GROUP BY z.cell ORDER BY z.cell""")),

    // --- PRODUCT QUANTIZATION (Jégou et al. 2011, the PQ in IVF-PQ):
    // the 64-dim embedding splits into M=8 subspaces of 8 dims; each
    // subvector is assigned to its nearest code in a per-subspace
    // codebook, so the vector compresses to 8 code ids — the 100 TB
    // vector-serving layout (a petabyte of float32 becomes ~1/32 the
    // bytes, scanned without touching raw vectors). Codebooks here
    // are the label-seeded exact centroids restricted to each
    // subspace (training k-means isn't SQL — same substitution as
    // q_ann_ivf_build, which makes the WHOLE build oracle-gated).
    // Shape: one explode of the corpus (64 rows/vector) joined to
    // the broadcast 80-row codebook on (subspace, offset), two-phase
    // aggregation down to (vector, subspace, code) distances, argmin
    // via min(struct) — map-side combinable, never a window. Output
    // is all-scalar: the 8 code ids packed as a decimal BIGINT (one
    // digit per subspace — codebooks have 10 codes) plus the exact
    // reconstruction error on the 1e-9 grid (order-free BIGINT fold).
    QueryDef("q_pq_quantize",
      (spark, dir) => {
        val best = pqBest(spark, dir, lit(true))
        val p10 = array((0 until 8).map(i =>
          lit(math.pow(10, i).toLong)): _*)
        best.groupBy(col("vec_id"))
          .agg(sum(col("k").cast("bigint") * element_at(p10, col("m") + 1))
            .as("pq_code"),
            (sum(round(col("d2") * lit(1e9)).cast("bigint")).cast("double")
              / lit(1e9)).as("recon_err"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (
  SELECT label, unnest(embedding) AS x,
    unnest(range(len(embedding))) AS dim
  FROM embeddings),
g AS (
  SELECT label, dim,
    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
      / 1000000.0 / count(*) AS c
  FROM e GROUP BY label, dim),
codes AS (
  SELECT label AS k, CAST(dim // 8 AS INT) AS m, dim % 8 AS j, c FROM g),
sq AS (
  SELECT vec_id, unnest(embedding) AS x,
    unnest(range(len(embedding))) AS dim
  FROM embeddings),
sub AS (
  SELECT vec_id, CAST(dim // 8 AS INT) AS m, dim % 8 AS j, x FROM sq),
d AS (
  SELECT vec_id, m, k,
    CAST(sum(CAST((CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)
      AS DECIMAL(20,12))) AS DOUBLE) AS d2
  FROM sub JOIN codes USING (m, j)
  GROUP BY vec_id, m, k),
b AS (
  SELECT vec_id, m, k, d2
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
          ORDER BY d2, k) AS rn FROM d)
  WHERE rn = 1)
SELECT vec_id,
  CAST(sum(k * ([1, 10, 100, 1000, 10000, 100000, 1000000,
    10000000])[m + 1]) AS BIGINT) AS pq_code,
  CAST(sum(CAST(round(d2 * 1000000000.0) AS BIGINT)) AS DOUBLE)
    / 1000000000.0 AS recon_err
FROM b GROUP BY vec_id ORDER BY vec_id""")),

    // --- IVF-PQ ADC SEARCH — the full 100 TB vector-serving path,
    // assembled from this engine's own parts and oracle-gated end to
    // end: (1) IVF — each corpus vector lives in its nearest
    // label-seeded cell; a probe scans only its nprobe=3 nearest
    // cells (the coarse pruning that keeps a petabyte index from
    // being a full scan); (2) PQ — candidates are scored WITHOUT
    // touching raw vectors: per probe, one 80-entry distance table
    // (d² from the probe's subvectors to every code) is broadcast,
    // and a candidate's ASYMMETRIC distance is the 8-way table-lookup
    // sum over its stored code ids — the ADC trick (Jégou et al.
    // 2011) that makes the scan bytes-per-candidate, not
    // floats-per-dimension. Everything folds on exact grids (decimal
    // per-term distance sums; the 8 lookups summed on the 1e-9
    // grid), so both engines rank candidates identically, ties
    // broken by vec_id. Top-10 per probe rides the native GroupTopK
    // partial heaps — the shuffle carries ≤10 rows per probe per map
    // partition, never the candidate set.
    QueryDef("q_ann_adc",
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        // ≤10 rows, consumed by BOTH assignment joins and (via the
        // codebook) the distance tables — localCheckpoint computes the
        // posexplode aggregation once instead of once per consumer
        // (the exchanges are not canonically equal, so runtime reuse
        // cannot dedupe them)
        val cents = centroidArrays(spark, dir)
          .select(col("label").as("cell"), col("centroid"))
          .pinned()
        def cellD2(df: org.apache.spark.sql.DataFrame, idCol: String) =
          df.crossJoin(broadcast(cents))
            .select(col(idCol),
              Exact.sqDistFD(col("embedding"), col("centroid")).as("d2"),
              col("cell"))
        // NOT fanned (guide §1.1 measure-first): fanning this corpus
        // assignment measured 2.69 s → 4.59 s — the assignment feeds a
        // three-way join pipeline whose stages multiply under the
        // widened partitioning (contrast q_ann_ivf_build, where the
        // same shape consumed once does win)
        val corpusCell = cellD2(emb.filter(col("vec_id") >= 3), "vec_id")
          .groupBy(col("vec_id"))
          .agg(min(struct(col("d2"), col("cell"))).as("a"))
          .select(col("vec_id"), col("a.cell").as("cell"))
        val probes = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("probe_id"), col("embedding"))
        val probeCells = graft.plans.GroupTopK.topK(
          cellD2(probes, "probe_id"), Seq("probe_id"),
          Seq(("d2", false), ("cell", false)), 3)
          .select(col("probe_id"), col("cell"))
        val xd = col("x").cast("double")
        val psub = probes
          .select(col("probe_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("probe_id"), expr("dim div 8").cast("int").as("m"),
            expr("dim % 8").as("j"), col("x"))
        // 80-entry codebook, consumed by the probe distance tables AND
        // the corpus code assignment — computed once
        val codebook = pqCodebook(spark, dir).pinned()
        val dt = psub.join(broadcast(codebook), Seq("m", "j"))
          .select(col("probe_id"), col("m"), col("k"),
            ((xd - col("c")) * (xd - col("c")))
              .cast(org.apache.spark.sql.types.DecimalType(20, 12)).as("t"))
          .groupBy(col("probe_id"), col("m"), col("k"))
          .agg(sum(col("t")).cast("double").as("dtv"))
        val corpusCodes = pqBest(spark, dir, col("vec_id") >= 3,
          Some(codebook))
          .select(col("vec_id"), col("m"), col("k"))
        val adc = corpusCell.join(probeCells, Seq("cell"))
          .select(col("probe_id"), col("vec_id"))
          .join(corpusCodes, Seq("vec_id"))
          .join(broadcast(dt), Seq("probe_id", "m", "k"))
          .groupBy(col("probe_id"), col("vec_id"))
          .agg((sum(round(col("dtv") * lit(1e9)).cast("bigint")).cast("double")
            / lit(1e9)).as("adc"))
        graft.plans.GroupTopK.topK(adc, Seq("probe_id"),
          Seq(("adc", false), ("vec_id", false)), 10)
          .select(col("probe_id"), col("vec_id"), col("adc"))
          .orderBy(col("probe_id"), col("adc"), col("vec_id"))
      },
      Some("""WITH e AS (
  SELECT label, unnest(embedding) AS x,
    unnest(range(len(embedding))) AS dim
  FROM embeddings),
g AS (
  SELECT label, dim,
    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
      / 1000000.0 / count(*) AS c
  FROM e GROUP BY label, dim),
cents AS (
  SELECT label AS cell, list(c ORDER BY dim) AS cent
  FROM g GROUP BY label),
cd AS (
  SELECT v.vec_id, c.cell,
    CAST(list_sum(list_transform(range(1, len(v.embedding) + 1),
      i -> CAST((CAST(v.embedding[i] AS DOUBLE) - c.cent[i])
        * (CAST(v.embedding[i] AS DOUBLE) - c.cent[i])
        AS DECIMAL(20,12)))) AS DOUBLE) AS d2
  FROM embeddings v CROSS JOIN cents c WHERE v.vec_id >= 3),
ca AS (
  SELECT vec_id, cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY d2, cell) AS rn FROM cd)
  WHERE rn = 1),
pd AS (
  SELECT v.vec_id AS probe_id, c.cell,
    CAST(list_sum(list_transform(range(1, len(v.embedding) + 1),
      i -> CAST((CAST(v.embedding[i] AS DOUBLE) - c.cent[i])
        * (CAST(v.embedding[i] AS DOUBLE) - c.cent[i])
        AS DECIMAL(20,12)))) AS DOUBLE) AS d2
  FROM embeddings v CROSS JOIN cents c WHERE v.vec_id < 3),
pc AS (
  SELECT probe_id, cell
  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY d2, cell) AS rn FROM pd)
  WHERE rn <= 3),
codes AS (
  SELECT label AS k, CAST(dim // 8 AS INT) AS m, dim % 8 AS j, c FROM g),
psq AS (
  SELECT vec_id AS probe_id, unnest(embedding) AS x,
    unnest(range(len(embedding))) AS dim
  FROM embeddings WHERE vec_id < 3),
psub AS (
  SELECT probe_id, CAST(dim // 8 AS INT) AS m, dim % 8 AS j, x FROM psq),
dt AS (
  SELECT probe_id, m, k,
    CAST(sum(CAST((CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)
      AS DECIMAL(20,12))) AS DOUBLE) AS dtv
  FROM psub JOIN codes USING (m, j)
  GROUP BY probe_id, m, k),
csq AS (
  SELECT vec_id, unnest(embedding) AS x,
    unnest(range(len(embedding))) AS dim
  FROM embeddings WHERE vec_id >= 3),
csub AS (
  SELECT vec_id, CAST(dim // 8 AS INT) AS m, dim % 8 AS j, x FROM csq),
d AS (
  SELECT vec_id, m, k,
    CAST(sum(CAST((CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)
      AS DECIMAL(20,12))) AS DOUBLE) AS d2
  FROM csub JOIN codes USING (m, j)
  GROUP BY vec_id, m, k),
b AS (
  SELECT vec_id, m, k
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
          ORDER BY d2, k) AS rn FROM d)
  WHERE rn = 1),
cand AS (SELECT pc.probe_id, ca.vec_id FROM ca JOIN pc USING (cell)),
adc AS (
  SELECT cand.probe_id, cand.vec_id,
    CAST(sum(CAST(round(dt.dtv * 1000000000.0) AS BIGINT)) AS DOUBLE)
      / 1000000000.0 AS adc
  FROM cand
  JOIN b ON b.vec_id = cand.vec_id
  JOIN dt ON dt.probe_id = cand.probe_id AND dt.m = b.m AND dt.k = b.k
  GROUP BY cand.probe_id, cand.vec_id)
SELECT probe_id, vec_id, adc FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
    ORDER BY adc, vec_id) AS rn FROM adc)
WHERE rn <= 10 ORDER BY probe_id, adc, vec_id""")),

    // --- BINARY-QUANTIZED ANN (sign bits + Hamming): the 64×
    // compression serving path modern embedding stores ship — each
    // vector collapses to one 63-bit sign word (dims 0..62; bit 63 is
    // skipped so the code stays in positive BIGINT range on every
    // engine), and distance is bit_count(xor) — pure integer
    // machine ops, so unlike float cosine the ENTIRE index is
    // hash-exact cross-engine. Scale shape: quantization is one
    // narrow aggregation (map-side combined); the 8 probe words
    // broadcast onto the corpus scan (8 longs — the big side never
    // shuffles); per-probe top-5 rides GroupTopK partial heaps. At
    // 100 TB the code column is 8 bytes/vector — the rerank-from-
    // binary-candidates pattern follows exactly q_bm25_rerank's
    // two-stage shape.
    QueryDef("q_binary_ann",
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val codes = emb
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy(col("vec_id"))
          .agg(sum(when(col("x") > 0 && col("dim") < 63,
            expr("shiftleft(CAST(1 AS BIGINT), dim)")).otherwise(0L))
            .as("code"))
        val probes = codes.filter(col("vec_id") < 8)
          .select(col("vec_id").as("probe_id"), col("code").as("pcode"))
        val scored = codes.filter(col("vec_id") >= 8)
          .crossJoin(broadcast(probes))
          .select(col("probe_id"), col("vec_id"),
            expr("CAST(bit_count(code ^ pcode) AS BIGINT)").as("hamming"))
        graft.plans.GroupTopK.topK(scored, Seq("probe_id"),
          Seq(("hamming", false), ("vec_id", false)), 5)
          .select(col("probe_id"), col("vec_id"), col("hamming"))
          .orderBy(col("probe_id"), col("hamming"), col("vec_id"))
      },
      Some("""WITH e AS (
  SELECT vec_id, unnest(embedding) AS x, unnest(range(len(embedding))) AS dim
  FROM embeddings),
c AS (
  SELECT vec_id, CAST(sum(CASE WHEN x > 0 AND dim < 63
    THEN (CAST(1 AS BIGINT) << dim) ELSE 0 END) AS BIGINT) AS code
  FROM e GROUP BY vec_id),
p AS (SELECT vec_id AS probe_id, code AS pcode FROM c WHERE vec_id < 8),
s AS (SELECT p.probe_id, c.vec_id,
        CAST(bit_count(xor(c.code, p.pcode)) AS BIGINT) AS hamming
      FROM c, p WHERE c.vec_id >= 8)
SELECT probe_id, vec_id, hamming FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
    ORDER BY hamming, vec_id) AS rn FROM s) WHERE rn <= 5
ORDER BY probe_id, hamming, vec_id""")),

    // --- BINARY RECALL → EXACT RERANK: the full production shape of
    // binary embedding serving (the q_bm25_rerank pattern with the
    // lexical stage swapped for sign-word Hamming): stage 1 scans
    // only 8-byte codes and surfaces top-20 candidates per probe —
    // 64× less I/O than float vectors — and stage 2 pays the exact
    // float cosine for ONLY those 20. The gated output carries both
    // the Hamming and the cosine ranks, so what's verified includes
    // the rank REORDERING the rerank exists to perform. Scale shape:
    // code scan broadcast-joined by 8 probe words; the candidate
    // re-join to float vectors shuffles 160 rows, not the corpus;
    // both top-k's ride GroupTopK heaps.
    QueryDef("q_binary_rerank",
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val codes = emb
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy(col("vec_id"))
          .agg(sum(when(col("x") > 0 && col("dim") < 63,
            expr("shiftleft(CAST(1 AS BIGINT), dim)")).otherwise(0L))
            .as("code"))
        val probes = codes.filter(col("vec_id") < 8)
          .select(col("vec_id").as("probe_id"), col("code").as("pcode"))
        val cand = graft.plans.GroupTopK.topK(
          codes.filter(col("vec_id") >= 8)
            .crossJoin(broadcast(probes))
            .select(col("probe_id"), col("vec_id"),
              expr("CAST(bit_count(code ^ pcode) AS BIGINT)").as("hamming")),
          Seq("probe_id"), Seq(("hamming", false), ("vec_id", false)), 20)
        val pEmb = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
        val reranked = cand
          .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
          .join(broadcast(pEmb), Seq("probe_id"))
          .select(col("probe_id"), col("vec_id"), col("hamming"),
            Exact.cosineF(col("embedding"), col("p_emb")).as("cos"))
        graft.plans.GroupTopK.topK(reranked, Seq("probe_id"),
          Seq(("cos", true), ("vec_id", false)), 5)
          .select(col("probe_id"), col("vec_id"), col("hamming"), col("cos"))
          .orderBy(col("probe_id"), col("cos").desc, col("vec_id"))
      },
      Some(s"""WITH e AS (
  SELECT vec_id, unnest(embedding) AS x, unnest(range(len(embedding))) AS dim
  FROM embeddings),
c AS (
  SELECT vec_id, CAST(sum(CASE WHEN x > 0 AND dim < 63
    THEN (CAST(1 AS BIGINT) << dim) ELSE 0 END) AS BIGINT) AS code
  FROM e GROUP BY vec_id),
p AS (SELECT vec_id AS probe_id, code AS pcode FROM c WHERE vec_id < 8),
s AS (SELECT p.probe_id, c.vec_id,
        CAST(bit_count(xor(c.code, p.pcode)) AS BIGINT) AS hamming
      FROM c, p WHERE c.vec_id >= 8),
cand AS (
  SELECT probe_id, vec_id, hamming FROM (
    SELECT *, row_number() OVER (PARTITION BY probe_id
      ORDER BY hamming, vec_id) AS rn FROM s) WHERE rn <= 20),
rr AS (
  SELECT cand.probe_id, cand.vec_id, cand.hamming,
    ${Exact.cosineFSql("v.embedding", "pe.embedding")} AS cos
  FROM cand
  JOIN embeddings v ON v.vec_id = cand.vec_id
  JOIN embeddings pe ON pe.vec_id = cand.probe_id)
SELECT probe_id, vec_id, hamming, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
    ORDER BY cos DESC, vec_id) AS rn FROM rr) WHERE rn <= 5
ORDER BY probe_id, cos DESC, vec_id""")),

    // --- IVF SERVE, fully oracle-gated: the batched cell-pruned
    // top-k search over the label-seeded SQL quantizer — the serve
    // half of q_ann_ivf_build, with no MLlib in the loop (KMeans
    // training is the ONLY reason q_ann_ivf_batch is spec-pinned;
    // swapping in the label-seeded centroids makes the identical
    // plan shape hash-checkable end to end; Ann.ivfTopKBatch stays
    // as the KMeans-backed twin). Scale shape: the quantizer (10
    // cells) and the probe shortlist (16 probes × nprobe 3 cells)
    // broadcast; the corpus scan shuffles once on vec_id for the
    // assignment join; candidate scoring touches only the ~3/10 of
    // the corpus in shortlisted cells; per-probe top-5 rides the
    // native GroupTopK (partial heaps, shuffle carries ≤5 rows per
    // probe per partition). Exactness: every distance is the
    // per-term DECIMAL(20,12) fold (probe vectors widened
    // float→double, an exact cast), ties broken by cell/vec_id.
    QueryDef("q_ann_ivf_serve",
      (spark, dir) => {
        val emb = Tables.embeddings(spark, dir)
        val cents = centroidArrays(spark, dir)
          .select(col("label").as("cell"), col("centroid"))
        // fan the one-task corpus scan ahead of the decimal assignment
        // kernel (guide §2.5; same shape as q_ann_ivf_build r20 —
        // consumed once by the serve join chain)
        val corpusCell = graft.util.Par.fanOut(emb.filter(col("vec_id") >= 16))
          .crossJoin(broadcast(cents))
          .select(col("vec_id"),
            Exact.sqDistFD(col("embedding"), col("centroid")).as("d2"),
            col("cell"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("d2"), col("cell"))).as("a"))
          .select(col("vec_id"), col("a.cell").as("cell"))
          .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        val probes = emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
        val shortlist = graft.plans.GroupTopK.topK(
          probes.crossJoin(broadcast(cents))
            .select(col("probe_id"), col("p_emb"),
              Exact.sqDistFD(col("p_emb"), col("centroid")).as("dc"),
              col("cell")),
          Seq("probe_id"), Seq(("dc", false), ("cell", false)), 3)
          // float→double is exact, so the candidate-scoring kernel
          // (float corpus side, double probe side) restates cleanly
          .select(col("probe_id"),
            col("p_emb").cast("array<double>").as("p_emb"), col("cell"))
        val cand = corpusCell.join(broadcast(shortlist), Seq("cell"))
          .select(col("probe_id"), col("vec_id"),
            Exact.sqDistFD(col("embedding"), col("p_emb")).as("d2"))
        graft.plans.GroupTopK.topK(cand, Seq("probe_id"),
          Seq(("d2", false), ("vec_id", false)), 5)
          .select(col("probe_id"), col("vec_id"), col("d2"))
          .orderBy(col("probe_id"), col("d2"), col("vec_id"))
      },
      Some("""WITH e AS (
  SELECT label, unnest(embedding) AS x,
    unnest(range(len(embedding))) AS dim
  FROM embeddings),
g AS (
  SELECT label, dim,
    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
      / 1000000.0 / count(*) AS c
  FROM e GROUP BY label, dim),
cents AS (
  SELECT label AS cell, list(c ORDER BY dim) AS cent
  FROM g GROUP BY label),
pairs AS (
  SELECT v.vec_id, c.cell,
    CAST(list_sum(list_transform(range(1, len(v.embedding) + 1),
      i -> CAST((CAST(v.embedding[i] AS DOUBLE) - c.cent[i])
        * (CAST(v.embedding[i] AS DOUBLE) - c.cent[i])
        AS DECIMAL(20,12)))) AS DOUBLE) AS d2
  FROM embeddings v CROSS JOIN cents c WHERE v.vec_id >= 16),
a AS (
  SELECT vec_id, cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY d2, cell) AS rn FROM pairs)
  WHERE rn = 1),
pp AS (
  SELECT p.vec_id AS probe_id, c.cell,
    CAST(list_sum(list_transform(range(1, len(p.embedding) + 1),
      i -> CAST((CAST(p.embedding[i] AS DOUBLE) - c.cent[i])
        * (CAST(p.embedding[i] AS DOUBLE) - c.cent[i])
        AS DECIMAL(20,12)))) AS DOUBLE) AS dc
  FROM embeddings p CROSS JOIN cents c WHERE p.vec_id < 16),
pc AS (
  SELECT probe_id, cell
  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY dc, cell) AS rn FROM pp)
  WHERE rn <= 3),
scored AS (
  SELECT pc.probe_id, a.vec_id,
    CAST(list_sum(list_transform(range(1, len(v.embedding) + 1),
      i -> CAST((CAST(v.embedding[i] AS DOUBLE) - CAST(p.embedding[i] AS DOUBLE))
        * (CAST(v.embedding[i] AS DOUBLE) - CAST(p.embedding[i] AS DOUBLE))
        AS DECIMAL(20,12)))) AS DOUBLE) AS d2
  FROM a JOIN pc USING (cell)
  JOIN embeddings v ON v.vec_id = a.vec_id
  JOIN embeddings p ON p.vec_id = pc.probe_id)
SELECT probe_id, vec_id, d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
    ORDER BY d2, vec_id) AS rn FROM scored)
WHERE rn <= 5 ORDER BY probe_id, d2, vec_id""")),

    // --- INDEX-AS-TABLE ANN SERVING: the IVF-cell + binary sign-word
    // index PERSISTED through the manifest sink as committed
    // snapshots, maintained INCREMENTALLY on append, and served from
    // the COMMITTED table — the ANN twin of q_dedup_incremental. At
    // 100 TB nobody rebuilds an ANN index per query: the index IS a
    // table ((cell, vec_id, 63-bit sign word) = 24 B/vector), a new
    // corpus batch appends ONLY its own rows as the next snapshot
    // (the base is never recomputed or re-read), and every probe
    // serves against whatever head is committed. Layout is the scale
    // story: the index is range-laid-out by cell, and cell is the
    // schema's FIRST BIGINT column, so each part's manifest stats
    // carry its cell range (+ bloom) and the serve-side broadcast
    // join on cell runtime-prunes index parts to the shortlisted
    // cells — the "read only the probed cells' postings" IVF
    // contract enforced by the TABLE FORMAT, not by query logic.
    // Exactness: cell assignment rides the DECIMAL(20,12) fold;
    // everything downstream is 64-bit integer Hamming — hash-exact
    // cross-engine. The oracle restates the FINAL committed state
    // (base ∪ delta) plus the serve, so the gate covers the whole
    // build→commit→append→serve loop. CatalogSpec additionally pins
    // snapshot versioning across two appends.
    QueryDef("q_ann_index_serve",
      (spark, dir) => {
        val t = QueryDef.freshTable(spark, dir, "annidx")
        val emb = Tables.embeddings(spark, dir)
        // the quantizer is re-scanned by BOTH index builds and the
        // probe shortlist (3 consumers) — materialize the 10-row
        // centroid table once instead of re-running the corpus-wide
        // centroid aggregation per consumer (same reasoning as
        // q_ann_adc's shared codebook; measured ~2x on this query)
        val cents = centroidArrays(spark, dir)
          .select(col("label").as("cell"), col("centroid"))
          .pinned()
        // (cell, vec_id, code) index rows for a corpus slice: cell =
        // nearest label-seeded centroid (exact-decimal d2), code =
        // 63-bit sign word. Computed ONLY over the slice — that is
        // what makes the append leg incremental.
        def indexRows(slice0: org.apache.spark.sql.DataFrame) = {
          // fan the one-task corpus scan ahead of the decimal
          // assignment kernel (guide §2.5, the q_ann_ivf_build shape —
          // r21: the base build's kernel ran 556 ms on one core,
          // measured per stage). Both consumers (cellOf + codeOf) see the
          // SAME fanned subtree, so the round-robin exchange is
          // computed once and reused (ReusedExchange), not per branch.
          val slice = graft.util.Par.fanOut(slice0)
          val cellOf = slice
            .crossJoin(broadcast(cents))
            .select(col("vec_id"),
              Exact.sqDistFD(col("embedding"), col("centroid")).as("d2"),
              col("cell"))
            .groupBy(col("vec_id"))
            .agg(min(struct(col("d2"), col("cell"))).as("a"))
            .select(col("vec_id"), col("a.cell").cast("long").as("cell"))
          val codeOf = slice
            .select(col("vec_id"),
              posexplode(col("embedding")).as(Seq("dim", "x")))
            .groupBy(col("vec_id"))
            .agg(sum(when(col("x") > 0 && col("dim") < 63,
              expr("shiftleft(CAST(1 AS BIGINT), dim)")).otherwise(0L))
              .as("code"))
          cellOf.join(codeOf, Seq("vec_id"))
            .select(col("cell"), col("vec_id"), col("code"))
        }
        // base build → snapshot 1, cell-range layout
        indexRows(emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 =!= 0))
          .repartitionByRange(4, col("cell"), col("vec_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", t)
          .mode("overwrite").save()
        // incremental maintenance → snapshot 2: only the delta's
        // codes are computed; the committed base parts are untouched
        indexRows(emb.filter(col("vec_id") >= 8 && col("vec_id") % 4 === 0))
          .repartitionByRange(2, col("cell"), col("vec_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", t)
          .mode("append").save()
        // serve from the COMMITTED head (= base ∪ delta)
        val index = spark.read.format("graft.sources.ManifestSource")
          .option("path", t).load()
        val probes = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
        val pcode = probes
          .select(col("probe_id"),
            posexplode(col("p_emb")).as(Seq("dim", "x")))
          .groupBy(col("probe_id"))
          .agg(sum(when(col("x") > 0 && col("dim") < 63,
            expr("shiftleft(CAST(1 AS BIGINT), dim)")).otherwise(0L))
            .as("pcode"))
        val shortlist = graft.plans.GroupTopK.topK(
          probes.crossJoin(broadcast(cents))
            .select(col("probe_id"),
              Exact.sqDistFD(col("p_emb"), col("centroid")).as("dc"),
              col("cell")),
          Seq("probe_id"), Seq(("dc", false), ("cell", false)), 3)
          .select(col("probe_id"), col("cell").cast("long").as("cell"))
          .join(pcode, Seq("probe_id"))
        val cand = index.join(broadcast(shortlist), Seq("cell"))
          .select(col("probe_id"), col("vec_id"), col("cell"),
            expr("CAST(bit_count(code ^ pcode) AS BIGINT)").as("hamming"))
        graft.plans.GroupTopK.topK(cand, Seq("probe_id"),
          Seq(("hamming", false), ("vec_id", false)), 5)
          .select(col("probe_id"), col("vec_id"), col("cell"), col("hamming"))
          .orderBy(col("probe_id"), col("hamming"), col("vec_id"))
      },
      Some("""WITH e AS (
  SELECT label, unnest(embedding) AS x,
    unnest(range(len(embedding))) AS dim
  FROM embeddings),
g AS (
  SELECT label, dim,
    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
      / 1000000.0 / count(*) AS c
  FROM e GROUP BY label, dim),
cents AS (
  SELECT label AS cell, list(c ORDER BY dim) AS cent
  FROM g GROUP BY label),
pairs AS (
  SELECT v.vec_id, c.cell,
    CAST(list_sum(list_transform(range(1, len(v.embedding) + 1),
      i -> CAST((CAST(v.embedding[i] AS DOUBLE) - c.cent[i])
        * (CAST(v.embedding[i] AS DOUBLE) - c.cent[i])
        AS DECIMAL(20,12)))) AS DOUBLE) AS d2
  FROM embeddings v CROSS JOIN cents c WHERE v.vec_id >= 8),
a AS (
  SELECT vec_id, CAST(cell AS BIGINT) AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY d2, cell) AS rn FROM pairs)
  WHERE rn = 1),
ve AS (
  SELECT vec_id, unnest(embedding) AS x,
    unnest(range(len(embedding))) AS dim
  FROM embeddings),
codes AS (
  SELECT vec_id, CAST(sum(CASE WHEN x > 0 AND dim < 63
    THEN (CAST(1 AS BIGINT) << dim) ELSE 0 END) AS BIGINT) AS code
  FROM ve GROUP BY vec_id),
idx AS (
  SELECT a.cell, a.vec_id, codes.code
  FROM a JOIN codes USING (vec_id)),
pp AS (
  SELECT p.vec_id AS probe_id, c.cell,
    CAST(list_sum(list_transform(range(1, len(p.embedding) + 1),
      i -> CAST((CAST(p.embedding[i] AS DOUBLE) - c.cent[i])
        * (CAST(p.embedding[i] AS DOUBLE) - c.cent[i])
        AS DECIMAL(20,12)))) AS DOUBLE) AS dc
  FROM embeddings p CROSS JOIN cents c WHERE p.vec_id < 8),
pc AS (
  SELECT probe_id, CAST(cell AS BIGINT) AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY dc, cell) AS rn FROM pp)
  WHERE rn <= 3),
s AS (
  SELECT pc.probe_id, idx.vec_id, idx.cell,
    CAST(bit_count(xor(idx.code, pcd.code)) AS BIGINT) AS hamming
  FROM pc JOIN idx ON idx.cell = pc.cell
  JOIN codes pcd ON pcd.vec_id = pc.probe_id)
SELECT probe_id, vec_id, cell, hamming FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
    ORDER BY hamming, vec_id) AS rn FROM s)
WHERE rn <= 5 ORDER BY probe_id, hamming, vec_id""")),

    // --- INCREMENTAL MinHash near-dup against a COMMITTED band
    // index — the LSH twin of q_dedup_incremental, and the shape a
    // 100 TB/day near-dup pipeline actually runs: the historical
    // corpus is represented by its banded-signature INDEX (one row
    // per (doc, band): packed band-hash key, band key, signature CSV
    // — a committed manifest table in a hash layout keyed by the
    // 64-bit band hash, so probes hit range+bloom pruning), and only
    // the DELTA is shingled, banded and joined against it. Probes
    // serve from the IMMUTABLE snapshot v1 (explicit version read —
    // no checkpoint pinning needed, unlike a head read which would
    // see the index after the append below); the delta's own band
    // rows then append as snapshot 2, so tomorrow's batch probes
    // today's docs without any recompute. The history-side jumbo-
    // bucket cap (≤ MaxBucket docs per bucket) guards skew exactly
    // like q_minhash_neardup. Every pair row also carries the
    // post-append index size, gating the maintenance leg. Exactness:
    // the whole chain is the md5-derived h64 + affine families both
    // engines replicate bit-for-bit; the signature survives the CSV
    // roundtrip losslessly (longs).
    QueryDef("q_minhash_incremental",
      (spark, dir) => {
        val t = QueryDef.freshTable(spark, dir, "mhidx")
        // signatures once for the whole corpus shape; the index/delta
        // split below decides who pays banding + the join
        val minCols = minhashFamilies(MinhashK).zipWithIndex.map {
          case ((a, b), i) => min(famHash(col("h"), a, b)).as(s"m$i")
        }
        val sigs = shingleRows(spark, dir).groupBy(col("doc_id"))
          .agg(minCols.head, minCols.tail: _*)
          .select(col("doc_id"),
            array((0 until MinhashK).map(i => col(s"m$i")): _*).as("sig"))
          .pinned()
        val bandKeys = transform(sequence(lit(0), lit(MinhashBands - 1)),
          b => concat_ws(",",
            transform(slice(col("sig"), b * lit(MinhashR) + lit(1),
              lit(MinhashR)), _.cast("string"))))
        def banded(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"), col("sig"), posexplode(bandKeys))
          .select(col("doc_id"), col("sig"),
            col("pos").as("band"), col("col").as("band_key"))
          .withColumn("bh",
            OracleHash.h64(concat_ws(":", col("band"), col("band_key"))))
        def indexRows(df: org.apache.spark.sql.DataFrame) = banded(df)
          .select(col("bh"), col("doc_id"),
            col("band").cast("int").as("band"), col("band_key"),
            concat_ws(",", transform(col("sig"), _.cast("string")))
              .as("sig_csv"))
        // snapshot 1: the historical corpus's band index, hash layout
        indexRows(sigs.filter(col("doc_id") % 3 =!= 0))
          .repartition(4, col("bh"))
          .write.format("graft.sources.ManifestSource")
          .option("path", t)
          .mode("overwrite").save()
        val index = spark.read.format("graft.sources.ManifestSource")
          .option("path", t).option("version", "1").load()
        val okBuckets = index.groupBy(col("band"), col("band_key"))
          .agg(count(lit(1)).as("n")).filter(col("n") <= MaxBucket)
          .select(col("band"), col("band_key"))
        val delta = banded(sigs.filter(col("doc_id") % 3 === 0))
        val cand = index
          .join(okBuckets, Seq("band", "band_key"), "left_semi")
          .join(broadcast(delta.select(col("doc_id").as("id_b"),
            col("sig"), col("bh"), col("band"), col("band_key"))),
            Seq("bh", "band", "band_key"))
          .select(col("id_b"), col("doc_id").as("id_h"), col("sig"),
            split(col("sig_csv"), ",").cast("array<long>").as("sig_h"))
          .withColumn("sig_match", aggregate(zip_with(col("sig"),
            col("sig_h"), (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v))
          .groupBy(col("id_b"), col("id_h"))
          .agg(count(lit(1)).as("n_shared_bands"),
            min(col("sig_match")).as("m"))
          .withColumn("est_jaccard",
            col("m").cast("double") / lit(MinhashK.toDouble))
        // snapshot 2: ONLY the delta's band rows append
        indexRows(sigs.filter(col("doc_id") % 3 === 0))
          .repartition(2, col("bh"))
          .write.format("graft.sources.ManifestSource")
          .option("path", t)
          .mode("append").save()
        val after = spark.read.format("graft.sources.ManifestSource")
          .option("path", t).load()
        cand
          .crossJoin(broadcast(after.agg(
            count(lit(1)).as("n_index_after"))))
          .select(col("id_b"), col("id_h"), col("n_shared_bands"),
            col("est_jaccard"), col("n_index_after"))
          .orderBy(col("id_b"), col("id_h"))
      },
      Some {
        val sigMins = minhashFamilies(MinhashK)
          .map { case (a, b) => s"min(${famHashSql("h", a, b)})" }
          .mkString(",\n      ")
        val bandKey = (0 until MinhashR)
          .map(j => s"sig[$MinhashR * b.band + ${j + 1}]::VARCHAR")
          .mkString(" || ',' || ")
        s"""WITH $ShingleCteSql,
sig AS (
  SELECT doc_id,
    [$sigMins] AS sig
  FROM sh GROUP BY doc_id),
allb AS (
  SELECT doc_id, sig, b.band AS band, $bandKey AS band_key
  FROM sig, (SELECT unnest(generate_series(0, ${MinhashBands - 1})) AS band) b),
hb AS (SELECT * FROM allb WHERE doc_id % 3 <> 0),
bb AS (SELECT * FROM allb WHERE doc_id % 3 = 0),
okh AS (
  SELECT band, band_key FROM hb GROUP BY band, band_key
  HAVING count(*) <= $MaxBucket),
pairs AS (
  SELECT bb.doc_id AS id_b, hb.doc_id AS id_h,
    bb.sig AS sig_b, hb.sig AS sig_h
  FROM bb JOIN hb ON hb.band = bb.band AND hb.band_key = bb.band_key
  JOIN okh ON okh.band = hb.band AND okh.band_key = hb.band_key),
cand AS (
  SELECT id_b, id_h, CAST(count(*) AS BIGINT) AS n_shared_bands,
    CAST(min(CAST(list_sum(list_transform(generate_series(1, $MinhashK),
        i -> CASE WHEN sig_b[i] = sig_h[i] THEN 1 ELSE 0 END)) AS INT)) AS DOUBLE)
      / $MinhashK.0 AS est_jaccard
  FROM pairs GROUP BY id_b, id_h)
SELECT id_b, id_h, n_shared_bands, est_jaccard,
  (SELECT CAST(count(*) AS BIGINT) FROM hb)
    + (SELECT CAST(count(*) AS BIGINT) FROM bb) AS n_index_after
FROM cand ORDER BY id_b, id_h"""
      }),
  )

  /** Exact per-(label, dim) coordinate sums on the 1e-6 integer grid
    * (`s` BIGINT) with vector counts (`n`) — the shared core of the
    * gated q_centroids rows and of [[centroidArrays]]. Two-phase hash
    * aggregation: map-side combine collapses each partition to one row
    * per (label, dim) before the shuffle. */
  private[queries] def centroidRows(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    // deliberately NOT fanned out (guide §1.1 measure-first): the
    // 2000-row embeddings posexplode + sum is too cheap to amortize an
    // exchange — A/B showed every centroid consumer SLOWER with a
    // fan-out here (q_centroids 0.28→0.57 s, q_ann_ivf_build
    // 1.25→1.62 s); contrast pqBest below, whose per-row decimal
    // distance math does pay for one.
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(round(col("x").cast("double") * lit(1e6)).cast("bigint"))
        .as("s"), count(lit(1)).as("n"))

  /** Per-label mean vectors rebuilt as arrays: the
    * sort_array(collect_list) is bounded by the embedding
    * dimensionality (64 here), never by corpus size. Feeds the
    * SQL-side IVF coarse-quantizer build; deliberately NOT a gated
    * query output — the driver comparator canonicalizes scalars only,
    * so array-typed columns stay internal. */
  private[graft] def centroidArrays(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    centroidRows(spark, dir)
      .select(col("label"), col("n"),
        (col("s").cast("double") / lit(1e6) / col("n")).as("c"),
        col("dim"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vectors"),
        transform(sort_array(collect_list(struct(col("dim"), col("c")))),
          p => p.getField("c")).as("centroid"))

  /** Per-subspace PQ codebook `(k, m, j, c)`: the label-seeded exact
    * centroids restricted to M=8 subspaces of 8 dims (10 codes per
    * subspace). Tiny (80 rows) — always broadcast. */
  private[queries] def pqCodebook(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    centroidRows(spark, dir)
      .select(col("label").as("k"),
        expr("dim div 8").cast("int").as("m"),
        expr("dim % 8").as("j"),
        (col("s").cast("double") / lit(1e6) / col("n")).as("c"))

  /** PQ assignment `(vec_id, m, k, d2)` for vectors matching `pred`:
    * nearest code per subspace by exact-decimal distance (tie → the
    * smaller code id). One corpus explode + broadcast codebook join +
    * two-phase aggregation; shared by q_pq_quantize and q_ann_adc. */
  private[queries] def pqBest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, pred: Column,
      codebook: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val xd = col("x").cast("double")
    val sub = graft.util.Par.fanOut(Tables.embeddings(spark, dir)
        .filter(pred).select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), expr("dim div 8").cast("int").as("m"),
        expr("dim % 8").as("j"), col("x"))
    sub.join(broadcast(codebook.getOrElse(pqCodebook(spark, dir))), Seq("m", "j"))
      .select(col("vec_id"), col("m"), col("k"),
        ((xd - col("c")) * (xd - col("c")))
          .cast(org.apache.spark.sql.types.DecimalType(20, 12)).as("t"))
      .groupBy(col("vec_id"), col("m"), col("k"))
      .agg(sum(col("t")).cast("double").as("d2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("k"))).as("b"))
      .select(col("vec_id"), col("m"),
        col("b.k").as("k"), col("b.d2").as("d2"))
  }

  /** Banded-minhash candidate pairs with signature-agreement Jaccard
    * estimate: `(id_a, id_b, n_shared_bands, est_jaccard)`, unordered —
    * the shared core of q_minhash_neardup and q_minhash_est_check.
    *
    * Hash path is all whole-stage codegen: token hashes (one md5 per
    * token — the only md5 in the pipeline) → 3-token shingle hashes
    * (arithmetic combine) → explode → hash aggregation of the k
    * per-family minima (map-side partial agg; HOF folds would stay
    * interpreted and run ~10× slower). The tiny signature table
    * (k longs per doc) is localCheckpoint'd so the bucket-count
    * branch and both self-join sides reuse it instead of recomputing
    * the corpus lineage 4×. */
  /** Exploded distinct shingle hashes `(doc_id, h)` — the shared
    * input of the minhash signature build and the exact-Jaccard
    * verification. */
  private[queries] def shingleRows(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    // fan the one-task single-file scan out before the md5-per-token
    // hash chain + shingle explode (guide §2.5) — shared by the whole
    // minhash family
    graft.util.Par.fanOut(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), tokenHashes(col("text")).as("th"))
      .select(col("doc_id"),
        explode(shingleHashesFromTokenHashes(col("th"))).as("h"))

  private[queries] def minhashPairs(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      sh: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val exploded = sh.getOrElse(shingleRows(spark, dir))
    val minCols = minhashFamilies(MinhashK).zipWithIndex.map {
      case ((a, b), i) => min(famHash(col("h"), a, b)).as(s"m$i")
    }
    val sigs = exploded.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until MinhashK).map(i => col(s"m$i")): _*).as("sig"))
      .pinned()
    val bandKeys = transform(sequence(lit(0), lit(MinhashBands - 1)),
      b => concat_ws(",",
        transform(slice(col("sig"), b * lit(MinhashR) + lit(1), lit(MinhashR)),
          _.cast("string"))))
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(bandKeys))
      .select(col("doc_id"), col("sig"),
        col("pos").as("band"), col("col").as("band_key"))
    val smallBuckets = banded.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") >= 2 && col("bucket_n") <= MaxBucket)
      .select(col("band"), col("band_key"))
    val pruned = banded.join(smallBuckets, Seq("band", "band_key"), "left_semi")
    val x = pruned.select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
      col("band"), col("band_key"))
    val y = pruned.select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
      col("band"), col("band_key"))
    x.join(y, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      // per-pair signature agreement BEFORE the groupBy (every
      // surviving row of a pair carries the same sigs, so min()
      // is the deterministic pick — first() is order-dependent)
      .withColumn("sig_match", aggregate(zip_with(col("sig_a"), col("sig_b"),
        (p, q) => when(p === q, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"),
        min(col("sig_match")).as("n_sig_match"))
      .withColumn("est_jaccard",
        col("n_sig_match").cast("double") / lit(MinhashK.toDouble))
      .select(col("id_a"), col("id_b"), col("n_shared_bands"),
        col("est_jaccard"))
  }

  /** DuckDB CTE chain for [[minhashPairs]] — the identical token-hash →
    * shingle-hash → k-family minima → banding → capped bucket join
    * pipeline on the shared md5-derived h64, ending in
    * `cand(id_a, id_b, n_shared_bands, est_jaccard)` (intermediates
    * `toks, sh, sig, banded, ok, pr, pairs` also in scope — est_check
    * reuses `sh`). Splice as `WITH $MinhashPairsCteSql`. A `def`
    * (object-init ordering, like [[LevPairsSql]]). */
  private def MinhashPairsCteSql: String = {
    val sigMins = minhashFamilies(MinhashK)
      .map { case (a, b) => s"min(${famHashSql("h", a, b)})" }
      .mkString(",\n      ")
    val bandKey = (0 until MinhashR)
      .map(j => s"sig[$MinhashR * b.band + ${j + 1}]::VARCHAR")
      .mkString(" || ',' || ")
    s"""$ShingleCteSql,
sig AS (
  SELECT doc_id,
    [$sigMins] AS sig
  FROM sh GROUP BY doc_id),
banded AS (
  SELECT doc_id, sig, b.band AS band, $bandKey AS band_key
  FROM sig, (SELECT unnest(generate_series(0, ${MinhashBands - 1})) AS band) b),
ok AS (
  SELECT band, band_key FROM banded GROUP BY band, band_key
  HAVING count(*) >= 2 AND count(*) <= $MaxBucket),
pr AS (
  SELECT banded.doc_id, banded.sig, banded.band, banded.band_key
  FROM banded JOIN ok USING (band, band_key)),
pairs AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, x.sig AS sig_a, y.sig AS sig_b
  FROM pr x JOIN pr y ON x.band = y.band AND x.band_key = y.band_key
    AND x.doc_id < y.doc_id),
cand AS (
  SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared_bands,
    CAST(min(CAST(list_sum(list_transform(generate_series(1, $MinhashK),
        i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS INT)) AS DOUBLE)
      / $MinhashK.0 AS est_jaccard
  FROM pairs GROUP BY id_a, id_b)"""
  }

  /** Shared DuckDB CTE fragment `toks, sh` — per doc, the distinct
    * 3-token shingle h64s as exploded `(doc_id, h)` rows; the SQL twin
    * of [[tokenHashes]] + [[shingleHashesFromTokenHashes]]. Spliced by
    * minhashNeardupSql and CorpusOps' decontamination oracle. */
  private[queries] def ShingleCteSql: String = {
    val h = OracleHash.h64Sql _
    s"""toks AS (
  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${h("t")}) AS th
  FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      generate_series(1, len(th) - 2),
      i -> ${shingleCombineSql("th[i]", "th[i + 1]", "th[i + 2]")}))) AS h
  FROM toks WHERE len(th) >= 3)"""
  }

  /** DuckDB rendition of q_simhash: same h64 token hashes, same
    * 64 bit-majority votes, same power-of-two fold (constants
    * pre-computed in Scala so neither engine shifts at runtime). */
  private def simhashSql: String = {
    val bitSums = (0 until 64).map(b => s"sum((h >> $b) & 1) AS b$b")
      .mkString(",\n    ")
    val fold = (0 until 64)
      .map(b => s"(CASE WHEN b$b * 2 > n THEN ${1L << b} ELSE 0 END)")
      .mkString("\n    + ")
    s"""WITH th AS (
  SELECT doc_id, unnest(list_transform(string_split(text, ' '),
    t -> ${OracleHash.h64Sql("t")})) AS h
  FROM documents),
cnt AS (
  SELECT doc_id, count(*) AS n,
    $bitSums
  FROM th GROUP BY doc_id)
SELECT doc_id, simhash, CAST(bit_count(simhash) AS INT) AS popcount
FROM (SELECT doc_id, CAST($fold AS BIGINT) AS simhash FROM cnt)
ORDER BY doc_id"""
  }

  /** Capped prefix-block levenshtein near-dup pairs (a_id < b_id,
    * dist ≤ maxDist) — shared by q_lev_neardup and the component
    * clustering in CorpusOps. Blocks worth pairing have ≥2 members
    * (singletons pair with nothing) and ≤maxBlock (skew guard); the
    * tiny pairable-block table broadcasts into a semi-join that
    * prunes BOTH sides before the block-key shuffle. */
  private[queries] def levPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxBlock: Int = 100, maxDist: Int = 10,
      fan: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    def side(n: String) = Tables.documents(spark, dir).select(
      col("doc_id").as(s"${n}_id"),
      substring(col("text"), 1, 16).as(s"${n}_blk"),
      substring(col("text"), 1, 80).as(s"${n}_head"))
    val pairable = Tables.documents(spark, dir)
      .groupBy(substring(col("text"), 1, 16).as("blk"))
      .agg(count(lit(1)).as("blk_n"))
      .filter(col("blk_n") >= 2 && col("blk_n") <= maxBlock)
      .select(col("blk"))
    def pruned(n: String) = side(n).join(broadcast(pairable),
      col(s"${n}_blk") === col("blk"), "left_semi")
    // fan=true fans the probe side out (guide §2.5): with the b-side
    // broadcast, the whole block join AND the per-pair 80×80
    // Levenshtein DP run in the probe's stage — the one-task
    // single-file scan. OPT-IN because consumers that feed the pairs
    // into the iterative connectedComponents loop measured SLOWER
    // with it (the widened partitioning leaks into the pinned edge
    // set and every CC round then pays 32-task scheduling on tiny
    // frontiers: q_dup_components 1.81→2.34 s) while the flat
    // consumers win (q_lev_neardup 1.03→0.76 s).
    val probe = if (fan) graft.util.Par.fanOut(pruned("a")) else pruned("a")
    probe.join(pruned("b"),
        col("a_blk") === col("b_blk") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_head"), col("b_head")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** DuckDB CTE chain for [[levPairs]]: defines `pairs(a_id, b_id,
    * dist)` (plus its intermediates). Splice as `WITH $LevPairsSql`.
    * A `def`, not a `val`: `all` above interpolates it during object
    * init, and a val defined after `all` would still be null then. */
  private[queries] def LevPairsSql: String = """d AS (
  SELECT doc_id, substring(text, 1, 16) AS blk, substring(text, 1, 80) AS head
  FROM documents
),
pairable AS (
  SELECT blk FROM d GROUP BY blk HAVING count(*) >= 2 AND count(*) <= 100
),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
    levenshtein(a.head, b.head) AS dist
  FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
  JOIN pairable p ON a.blk = p.blk
  WHERE levenshtein(a.head, b.head) <= 10
)"""
}
