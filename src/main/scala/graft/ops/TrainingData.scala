package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.TableCatalog

/** Training-data pipeline tier (q33+): the operators a 100 TB LLM corpus
  * pipeline needs beyond classic relational analytics — near-dup detection
  * (n-gram Jaccard, SimHash, embedding-cosine), ANN search (IVF, sign-LSH),
  * text analysis (language ID, quality, token counts, fingerprints), and
  * multimodal binary plumbing. Approximate operators (LSH/IVF/hash-based)
  * are rows-only for the driver's check — their exact output is
  * engine-specific — and are pinned by ScalaTest specs instead.
  */
object TrainingData {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    TableCatalog.load(spark, dir, name)

  // ---------------------------------------------------------------- q33
  /** Word-3-gram Jaccard near-dup pairs via inverted-index self-join —
    * exact similarity, relational formulation, SQL-expressible oracle. */
  def q33DedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(spark, dir, "documents"), "text", "doc_id",
        n = 3, minJaccard = 0.05)
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- q34
  /** SimHash near-dup pairs (banded bucket join + Hamming verify) —
    * registered as the planted-pair recall envelope: appending ONE token
    * shifts every one of the 64 bit-sums by ±1, so the planted copies
    * genuinely stress the Hamming≤3 cut (measured recall 14/20 = 0.7 at
    * BOTH sf0.01 and sf0.1, floor 0.3 = 2.3× margin; xxhash-seeded, so
    * exactly reproducible per corpus). Raw pairs stay engine-specific
    * and are what the bench times ([[q34DedupSimhashPairs]]). */
  def q34DedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.plantedPairEnvelope(
      Dedup.simhashNearDupPairs(
        Dedup.plantTextDups(docs, "doc_id", "text"),
        "text", "doc_id", maxHamming = 3),
      docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("planted_id")),
      offset = 1000000L, floor = 0.3)
  }

  /** q34's BENCH form: the production pair scan over the raw corpus. */
  def q34DedupSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(t(spark, dir, "documents"), "text", "doc_id",
        maxHamming = 3)
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- q35
  /** Embedding-cosine near-dup pairs via banded sign-LSH, resources
    * auto-sized from the corpus count ([[Similarity.lshAutoSize]]: 2^bits
    * ≥ 4n buckets per band, bands from the ≥95%-recall curve at design
    * sim 0.9) — registered as the planted-pair recall envelope. The
    * plant is a ×1.5-scaled copy: scaling preserves every hyperplane
    * sign, so the copy collides with its original in EVERY band and
    * verifies at cosine 1.0 — detection is deterministic by construction
    * (measured 20/20 at both SFs; floor 0.9), which pins the banding /
    * bucket-join / verify plumbing rather than a probabilistic recall.
    * Raw pairs are benched via [[q35EmbeddingNeardupPairs]]. */
  def q35EmbeddingNeardup(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Dedup.plantedPairEnvelope(
      Similarity.lshNearDupPairs(
        Similarity.plantScaledDups(emb, "vec_id", "embedding"),
        "vec_id", "embedding", dim = 64, minSim = 0.3),
      emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("planted_id")),
      offset = 1000000L, floor = 0.9)
  }

  /** q35's BENCH form: the production pair scan over the raw corpus. */
  def q35EmbeddingNeardupPairs(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshNearDupPairs(t(spark, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, minSim = 0.3)
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- q123
  /** Incremental dedup: near-dups of a fresh increment (md5-keyed ~1/16 of
    * documents — a stand-in for "today's ingest") against the existing
    * corpus via [[Dedup.incrementalJaccardPairs]] — candidate volume
    * scales with the increment, never corpus². */
  def q123IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .withColumn("fresh", substring(md5(col("text")), 1, 1) === "f")
    Dedup.incrementalJaccardPairs(docs, "text", "doc_id", "fresh",
        n = 3, minJaccard = 0.05)
      .orderBy("corpus_id", "fresh_id")
  }

  // ---------------------------------------------------------------- q36
  /** Heuristic language ID vs the labeled lang column (rows-only; accuracy
    * itself is pinned by spec on curated multilingual strings — the corpus
    * labels are synthetic). */
  def q36LangId(spark: SparkSession, dir: String): DataFrame =
    Text.withLangId(
        t(spark, dir, "documents").select(col("doc_id"), col("lang"),
          col("text")),
        "text", "lang_guess")
      .withColumn("agree", (col("lang") === col("lang_guess")).cast("int"))
      .select("doc_id", "lang", "lang_guess", "agree")
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q37
  /** Surface-statistics quality score per document. */
  def q37QualityScore(spark: SparkSession, dir: String): DataFrame =
    Text.withQualityScore(
        t(spark, dir, "documents").select(col("doc_id"), col("text")),
        "text", "quality")
      .select("doc_id", "quality")
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q38
  /** Token counting: whitespace tokens + BPE-ish pre-tokenizer count. */
  def q38TokenCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        Text.tokenCountWs(col("text")).cast("long").as("ws_tokens"),
        Text.tokenCountBpe(col("text")).cast("long").as("bpe_tokens"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q39
  /** Winnowing-style min-hash fingerprint per document. The raw xxhash64
    * fingerprint is engine-internal, so the entry emits the two claims
    * an oracle CAN check: the exact distinct-shingle count, and a
    * content-functionality boolean — every document whose TEXT equals
    * another's must carry the SAME fingerprint (a window over the text
    * groups; the oracle expects TRUE on every row). The raw-fingerprint
    * form stays available via [[Text.fingerprint]]. */
  def q39Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fp = Text.fingerprint(t(spark, dir, "documents"), "text", "doc_id",
      w = 8, keepText = true)
    // partition by the 64-bit text hash, not the text itself: the one
    // shuffle carries an 8-byte key per row instead of the document body
    val byText = Window.partitionBy(xxhash64(col("text")))
    fp.select(col("doc_id"), col("n_shingles").cast("long").as("n_shingles"),
        (size(collect_set(col("min_fp")).over(byText)) === 1)
          .as("fp_consistent"))
      .orderBy("doc_id")
  }

  /** The ANN envelope form (q27/q93 pattern, applied to recall): join the
    * approximate result against the exact brute-force top-k and emit, per
    * query, the exact-side row count (value-exact: k whenever the corpus
    * holds ≥ k candidates) and ONE boolean — mean recall over the query
    * sample ≥ `floor` — that the oracle expects TRUE. The raw recall is
    * index-specific (hash-seeded planes / data-dependent centroids), so
    * the FLOOR is the cross-engine claim: set with ≥2× margin under every
    * measured value so centroid float-order jitter can never flip it.
    * The exact side is the audit; the benched form
    * ([[graft.SparkEntry.benchForm]]) runs the index probe alone. */
  def annRecallEnvelope(exact: DataFrame, approx: DataFrame,
                        floor: Double): DataFrame =
    recallVsExact(exact, approx)
      .withColumn("recall_ok",
        (avg(col("recall")).over(Window.partitionBy()) >= floor))
      .select(col("query_id"), col("k_exact"), col("recall_ok"))
      .orderBy("query_id")

  // ---------------------------------------------------------------- q40
  /** IVF approximate nearest neighbors for 10 query vectors — registered
    * as the recall envelope vs brute force (floor 0.15: stride-sampled
    * centroids on clusterless random embeddings give weak-but-nonzero
    * recall; measured 0.36–0.38 mean at sf0.01/sf0.1 → ≥2.4× margin). */
  def q40AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    annRecallEnvelope(
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5),
      Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 5),
      floor = 0.15)
  }

  /** q40's BENCH form: the IVF probe alone (production shape). */
  def q40AnnIvfProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rn")
  }

  // --------------------------------------------------------------- q203
  /** Sharded IVF ANN — the executable form of the past-the-codebook-
    * ceiling contract ([[Similarity.shardedIvfTopK]]): 4 hash shards,
    * independent per-shard codebooks, exact-cosine global merge.
    * Registered as the recall envelope vs brute force (floor 0.15, same
    * regime as q40; measured 0.38–0.56 mean); the every-shard-probed
    * property stays spec-checked. */
  def q203AnnShardedIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    annRecallEnvelope(
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5),
      Similarity.shardedIvfTopK(emb, q, "vec_id", "embedding", k = 5,
        nShards = 4),
      floor = 0.15)
  }

  /** q203's BENCH form: the sharded probe alone (production shape). */
  def q203AnnShardedIvfProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.shardedIvfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nShards = 4)
      .orderBy("query_id", "rn")
  }

  // ---------------------------------------------------------------- q97
  /** Fuzzy entity dedup: customer-name pairs within edit distance 1, via
    * [[Dedup.editDistancePairs]] deletion-neighborhood blocking (the
    * oracle brute-forces the same answer with an O(n²) levenshtein join —
    * an INDEPENDENT formulation, so blocking completeness is what's
    * checked). */
  def q97FuzzyNamePairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(t(spark, dir, "customer"), "c_name", "c_custkey")
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- q92
  /** Spherical k-means codebook over the embedding corpus: 16 centroids,
    * 3 Lloyd rounds ([[Similarity.trainKMeans]]; assignment is a
    * zero-shuffle projection, the mean update a combiner-friendly
    * (cell, dim) aggregate). Cluster SIZES are float-summation-order
    * dependent (centroid means), so the registered form is the envelope:
    * the 16 cent_ids pinned as rows, plus the partition claim —
    * Σ cluster sizes equals the corpus count exactly (every vector
    * assigned to exactly one cell) — that the oracle expects TRUE. The
    * raw sizes stay the API and the benched form
    * ([[q92KmeansCellSizes]]). */
  def q92KmeansCells(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val total = emb.count()
    val sizes = Similarity.trainKMeans(emb, "vec_id", "embedding",
        k = 16, iters = 3)
      .select(col("cent_id"), col("n"))
    val allCells = emb.sparkSession.range(16)
      .select(col("id").as("cent_id"))
    allCells.join(sizes, Seq("cent_id"), "left")
      .select(col("cent_id"), coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("partition_ok",
        sum(col("n")).over(Window.partitionBy()) === total)
      .select(col("cent_id"), col("partition_ok"))
      .orderBy("cent_id")
  }

  /** q92's BENCH form: the raw codebook sizes (production shape). */
  def q92KmeansCellSizes(spark: SparkSession, dir: String): DataFrame =
    Similarity.trainKMeans(t(spark, dir, "embeddings"), "vec_id",
        "embedding", k = 16, iters = 3)
      .select(col("cent_id"), col("n"))
      .orderBy("cent_id")

  // ---------------------------------------------------------------- q41
  /** Banded sign-LSH approximate nearest neighbors — registered as the
    * recall envelope vs brute force. This form keeps q41's default table
    * sizing, which in this corpus's low-cosine regime recalls weakly
    * (measured mean 0.08 at sf0.01, 0.18 at sf0.1) — the envelope floor
    * 0.02 is therefore the determinism + better-than-nothing claim
    * (planes are literal-seeded, so recall is exactly reproducible for a
    * given corpus); the AUTO-SIZED table's ≥0.4 claim lives in q172,
    * whose audit exists to make exactly this sizing difference visible. */
  def q41AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    annRecallEnvelope(
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5),
      Similarity.lshTopK(emb, q, "vec_id", "embedding", dim = 64, k = 5),
      floor = 0.02)
  }

  /** q41's BENCH form: the LSH probe alone (production shape). */
  def q41AnnLshProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", dim = 64, k = 5)
      .orderBy("query_id", "rn")
  }

  // --------------------------------------------------------------- q166
  /** Hard-negative mining — registered as the planted envelope over a
    * 20-anchor batch, pinning the operator's BOTH defining behaviors:
    * (a) `dup_excluded` — a planted ×1.5-scaled copy of each anchor
    * (cosine 1.0, guaranteed band collision) must NOT appear among its
    * negatives: the `sim < maxSim` cut is what separates this operator
    * from plain ANN, and the planted dup exercises the full
    * candidate→verify→cut path deterministically; (b)
    * `negative_recall_ok` — a planted flipped-tail copy (last 13 of 64
    * signs negated → cosine ≈ 0.36–0.88, mostly in the informative
    * band below 0.8) is retrieved among the top-3 negatives for ≥20% of
    * anchors (measured 11/20 at sf0.01, 9/20 at sf0.1 — misses are
    * above-cut sims, correctly excluded, plus band misses at the design
    * boundary; hash-seeded → exactly reproducible). The production
    * 200-anchor mine is what the bench times ([[q166HardNegativesMine]]). */
  def q166HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val off = 1000000L
    val anchors = emb.filter(col("vec_id") < 20)
    val negatives = anchors
      .withColumn("vec_id", col("vec_id") + off)
      .withColumn("embedding",
        transform(col("embedding"), (x, i) => when(i >= 51, -x).otherwise(x)))
    val dups = anchors
      .withColumn("vec_id", col("vec_id") + 2 * off)
      .withColumn("embedding", transform(col("embedding"), _ * lit(1.5f)))
    val hn = Similarity.hardNegatives(
      emb.unionByName(negatives).unionByName(dups), anchors,
      "vec_id", "embedding", dim = 64, maxSim = 0.8, k = 3)
    val perAnchor = hn.groupBy(col("query_id")).agg(
      max(when(col("neighbor_id") === col("query_id") + off, 1L)
        .otherwise(0L)).as("hit"),
      max(when(col("neighbor_id") === col("query_id") + 2 * off, 1L)
        .otherwise(0L)).as("dup"))
    anchors.select(col("vec_id").as("query_id"))
      .join(perAnchor, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("dup"), lit(0L)) === 0L).as("dup_excluded"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .withColumn("negative_recall_ok",
        avg(col("hit")).over(Window.partitionBy()) >= 0.2)
      .select(col("query_id"), col("dup_excluded"),
        col("negative_recall_ok"))
      .orderBy("query_id")
  }

  /** q166's BENCH form: the production 200-anchor mine. */
  def q166HardNegativesMine(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 200),
        "vec_id", "embedding", dim = 64, maxSim = 0.8, k = 3)
      .orderBy("query_id", "rn")
  }

  // ---------------------------------------------------------------- q42
  /** Multimodal plumbing: binary payload table → partition-batched decode
    * stub → typed features, hash-verified against a DuckDB oracle that
    * reproduces the deterministic stub decode byte-for-byte (plus
    * determinism/metadata specs). The library API keeps the `features array<float>`
    * column; the registered query projects it to one scalar per stripe so
    * the driver's sort-based rows check can order the output (it cannot
    * sort array columns). */
  def q42MultimodalStub(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFeatures(
        Multimodal.asMediaTable(t(spark, dir, "documents"),
          "doc_id", "text", "text/plain"),
        targetPartitions = 0)
      .toDF()
      .select(col("asset_id"), col("media_type"), col("n_bytes"),
        col("width"), col("height"),
        element_at(col("features"), 1).as("stripe0"),
        element_at(col("features"), 2).as("stripe1"),
        element_at(col("features"), 3).as("stripe2"),
        element_at(col("features"), 4).as("stripe3"))
      .orderBy("asset_id")

  // --------------------------------------------------------------- q228
  /** REAL audio decode under the oracle gate: a deterministic synthetic
    * WAV corpus (all-integer triangle waves keyed by asset id — 20
    * distinct pitches; see [[Multimodal.synthWavTable]]) goes through
    * the genuine javax.sound RIFF/PCM parser and the frame featurizer
    * ([[Multimodal.decodeWavFrames]]: per-512-sample-frame RMS and
    * zero-crossing rate, exact-long sums of squares, one sqrt/divide at
    * the end). Because the fixture samples are integer-exact closed
    * forms, DuckDB replays every frame's features bit-for-bit — the
    * container parse, channel/endianness handling and frame fold are
    * the components under test, the same way q42 gates the stub path.
    * Assets are capped at id < 500 (fixed fixture size at any SF —
    * q172's fixed-sample contract; the synthetic corpus is a harness,
    * not data). */
  def q228AudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = t(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") < 500)
      .as[java.lang.Long]
    Multimodal.decodeWavFrames(Multimodal.synthWavTable(ids))
      .toDF()
      .orderBy("asset_id", "frame_idx")
  }

  // --------------------------------------------------------------- q234
  /** REAL image decode under the oracle gate — the visual twin of q228:
    * a deterministic synthetic BMP corpus (all-integer gradient
    * patterns keyed by asset id; [[Multimodal.synthBmpTable]]) goes
    * through the genuine javax.imageio BMP parser and an exact integer
    * pixel walk ([[Multimodal.decodeBmpStats]]) — container header,
    * bottom-up row order, BGR byte order and row padding are the
    * components under test, and DuckDB replays every channel sum/min/
    * max and the integer luma sum bit-for-bit from the closed-form
    * pattern. Assets capped at id < 500 (q228's fixed-fixture
    * contract). */
  def q234ImageStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = t(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") < 500)
      .as[java.lang.Long]
    Multimodal.decodeBmpStats(Multimodal.synthBmpTable(ids))
      .toDF()
      .orderBy("asset_id")
  }

  // --------------------------------------------------------------- q235
  /** Integer blockhash on REAL decoded pixels ([[Multimodal
    * .decodeBlockHash]]; blockhash.io's published mean-threshold
    * method): bit k = (8×8-block luma sum × 64 > total luma sum), all
    * in exact integers — value-exact under the oracle, no envelope
    * needed (the ONE approximate-free perceptual hash in the engine:
    * DCT pHash q-family rows stay envelope/spec-pinned because doubles
    * don't cross engines; this one does). */
  def q235ImageBlockhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = t(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") < 500)
      .as[java.lang.Long]
    Multimodal.decodeBlockHash(Multimodal.synthBmpTable(ids))
      .toDF()
      .orderBy("asset_id")
  }

  // --------------------------------------------------------------- q236
  /** Brightness-shift near-dup detection on REAL pixels: planted +40
    * uniform-brightness copies of the first 20 assets (no 8-bit wrap by
    * the fixture's mod-180 headroom) hash to the IDENTICAL blockhash —
    * the method's documented invariance, exercised through the real
    * decode → hash → banded Hamming join → verify path and pinned by
    * the planted-pair envelope (deterministic, floor 0.9). */
  def q236ImageNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, dir, "documents")
    val ids = docs.select(col("doc_id")).filter(col("doc_id") < 500)
      .as[java.lang.Long]
    val ids20 = docs.select(col("doc_id")).filter(col("doc_id") < 20)
      .as[java.lang.Long]
    val corpus = Multimodal.synthBmpTable(ids).toDF()
      .unionByName(Multimodal.synthBmpTable(ids20, shift = 40).toDF()
        .withColumn("asset_id", col("asset_id") + 1000000L))
      .as[Multimodal.MediaRow]
    val sigs = Multimodal.decodeBlockHash(corpus).toDF()
      .select(col("asset_id"),
        shiftleft(col("bits_hi"), 32).bitwiseOR(col("bits_lo")).as("sig"))
    Dedup.plantedPairEnvelope(
      Dedup.hammingBandPairs(sigs, "asset_id", "sig", maxHamming = 3),
      docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("planted_id")),
      offset = 1000000L, floor = 0.9)
  }

  // ---------------------------------------------------------------- q75
  /** Int8-quantized brute-force top-k — registered as the recall envelope
    * vs the exact float path (spec pins mean ≥0.8; floor 0.4 = 2× margin;
    * quantization is deterministic, so the only jitter source is top-k
    * tie order). */
  def q75AnnQuantized(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    annRecallEnvelope(
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5),
      Similarity.quantizedTopK(emb, q, "vec_id", "embedding", k = 5),
      floor = 0.4)
  }

  /** q75's BENCH form: the quantized scan alone (production shape). */
  def q75AnnQuantizedProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rn")
  }

  // ---------------------------------------------------------------- q49
  /** Native expression-level MinHash near-dup pairs — registered as the
    * planted-pair recall envelope (floor 0.6; measured 20/20 at both
    * SFs: one appended token gives Jaccard ≈ 0.95, and 4 bands of 2
    * minhashes put the per-pair miss under 1e-4; xxhash-seeded →
    * exactly reproducible). Candidate recall stays spec-pinned and the
    * raw pair scan is what the bench times ([[q49MinhashNativePairs]]). */
  def q49MinhashNative(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.plantedPairEnvelope(
      Dedup.minhashNativePairs(
        Dedup.plantTextDups(docs, "doc_id", "text"),
        "text", "doc_id", maxDistance = 0.6),
      docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("planted_id")),
      offset = 1000000L, floor = 0.6)
  }

  /** q49's BENCH form: the production pair scan over the raw corpus. */
  def q49MinhashNativePairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNativePairs(t(spark, dir, "documents"), "text", "doc_id",
        maxDistance = 0.6)
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- q127
  /** Substring search driven by a character-trigram inverted index — the
    * `LIKE '%pattern%'` that doesn't scan the corpus. A plain contains()
    * filter reads every byte of every document; the trigram-index
    * formulation touches only the postings of the pattern's own trigrams
    * (a scan-side IN predicate here; partition pruning on a materialized
    * postings table bucketed by gram at warehouse scale), keeps the docs
    * that hold ALL of them — a necessary condition for containing the
    * pattern — and runs the exact contains() verification on that
    * candidate sliver alone (semi-join back to the corpus, fetching just
    * candidate documents). The index build below is the one-time cost a
    * production deployment amortizes across every search; the probe side
    * of the plan is what repeats. Verification makes the trigram recall
    * question moot: output is exactly the brute-force filter's, which is
    * what the oracle runs. */
  def q127TrigramSearch(spark: SparkSession, dir: String): DataFrame = {
    val pattern = "merge batch"
    // code-point windows, same rule as CharNgrams — String.sliding counts
    // UTF-16 units and would emit surrogate-split grams the index never
    // contains, silently zeroing recall for a non-BMP pattern
    val cps = pattern.codePoints.toArray
    val grams = cps.sliding(3).map(w => new String(w, 0, w.length))
      .toSeq.distinct
    val docs = t(spark, dir, "documents")
    val cand = docs
      .filter(length(col("text")) >= pattern.length)
      // fused CharNgrams scan, intersected with the pattern-gram literal
      // INSIDE the array before exploding: ships <=|pattern| rows per doc
      // into the aggregate instead of one row per character of text
      .select(col("doc_id"),
        explode(array_intersect(
          graft.functions.charNgrams(col("text"), 3),
          typedlit(grams))).as("gram"))
      // plain count: CharNgrams is distinct and the intersect with a
      // distinct literal preserves that — countDistinct would add a
      // second aggregate level for nothing
      .groupBy("doc_id")
      .agg(count(col("gram")).as("hit"))
      .filter(col("hit") === grams.size)
    docs.join(cand.select("doc_id"), Seq("doc_id"), "left_semi")
      .filter(col("text").contains(pattern))
      .select(col("doc_id"),
        instr(col("text"), pattern).cast("long").as("pos"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q129
  /** Passage-level contamination lookup: which corpus documents contain
    * ≥80% of a probe passage's 3-gram shingles ([[Dedup
    * .containmentProbe]], asymmetric prefix filtering — only ~20% of each
    * probe's grams enter the join, losslessly). Probes are a deterministic
    * md5-keyed ~1/8 slice of the corpus, each contributing its tokens
    * 5–34 as the "leaked passage"; every probe therefore matches its own
    * parent at containment 1.0, plus any near-dup that shares the
    * passage. The oracle is the INDEPENDENT brute-force inverted join
    * (no prefix filtering), so the compare checks the prefix scheme's
    * losslessness, not just the arithmetic. */
  def q129PassageContainment(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val probes = docs
      .filter(substring(md5(col("text")), 1, 1).isin("0", "1"))
      .select(col("doc_id").as("probe_id"),
        array_join(slice(graft.functions.wordTokens(col("text")), 5, 30),
          " ").as("passage"))
    Dedup.containmentProbe(docs, "text", "doc_id",
        probes, "passage", "probe_id", n = 3, minContainment = 0.8)
      .orderBy("probe_id", "doc_id")
  }

  // ---------------------------------------------------------------- q131
  /** BM25 keyword retrieval: top-20 documents for a 3-term query —
    * Okapi BM25 (k1=1.25, b=0.75), the scoring function behind every
    * Lucene-family search engine. The plan is the retrieval shape, not
    * the scan shape: per-doc term frequencies come off a scan-side
    * IN-filtered explode (on a materialized postings table this is a
    * probe of the query terms' postings only), corpus statistics (N,
    * avgdl, per-term df) ride a 1-row broadcast + a 3-row broadcast, and
    * the top-20 head fuses. Per-document score = Σ over matched terms —
    * summed as DECIMAL(28,12) (order-free) with the idf/tf arithmetic
    * mirrored tree-for-tree in the oracle, so ranking and scores are
    * hash-exact. Ordering is by the RAW double score (bit-equal across
    * engines), doc_id tiebreak; the output column rounds to 6 dp. */
  def q131Bm25Retrieval(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(t(spark, dir, "documents"),
        Seq("merge", "batch", "spark"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), round(col("score"), 6).as("score"))

  /** Raw BM25 scores per matched document (see [[q131Bm25Retrieval]] for
    * the full scoring notes). Returns (doc_id, score) with the RAW double
    * score so callers choose their own head/rounding. */
  def bm25Scores(docs: DataFrame, terms: Seq[String]): DataFrame = {
    // two fully-codegen'd scans (tf stream; corpus stats) measure FASTER
    // than a persisted shared-tokenize pass at bench scale — the filter
    // HOF needed to share the frame is CodegenFallback and costs more
    // than the saved scan; at true warehouse scale both the postings and
    // the (N, avgdl, df) stats are precomputed index artifacts anyway
    val tf = docs
      .select(col("doc_id"),
        size(graft.functions.wordTokens(col("text"))).cast("long").as("dl"),
        explode(graft.functions.wordTokens(col("text"))).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val stats = docs.select(
        size(graft.functions.wordTokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // tf already holds one row per (doc, term) — plain count is df
    val dfT = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // k1=1.25, b=0.75: both exactly representable in binary AND decimal,
    // so k1+1=2.25 and 1-b=0.25 fold to the same constant no matter
    // whether an engine folds them in DOUBLE or exact DECIMAL (the
    // q130 (1-0.85) lesson, solved by construction here)
    val k1 = lit(1.25)
    val b = lit(0.75)
    val idf = log(
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) +
        lit(1.0))
    val score = idf * (col("tf") * (k1 + lit(1.0))) /
      (col("tf") + k1 * (lit(1.0) - b + b * col("dl") / col("avgdl")))
    tf.join(broadcast(dfT), "tok")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(sum(score.cast("decimal(28,12)")).cast("double").as("score"))
  }

  // --------------------------------------------------------------- q205
  /** Hybrid retrieval via reciprocal-rank fusion (Cormack et al., SIGIR
    * 2009): fuse the BM25 keyword ranking ([[bm25Scores]], q131's exact
    * arithmetic) with the exact dense-cosine ranking ([[Similarity
    * .bruteForceTopK]], q24's rounding recipe) by
    * rrf = Σ 1/(60 + rank) over the lists that returned the doc — the
    * standard lexical+dense fusion every production retrieval stack
    * runs, scoreless by design (ranks only), so the two lists'
    * incomparable score scales never touch.
    *
    * Determinism: each list is deterministically ranked (BM25 by raw
    * double score then doc_id; cosine by 6-dp-rounded sim then id), each
    * rrf term is one IEEE divide of exact integers, and the two-term sum
    * is order-free (IEEE addition is commutative) — so fusion order,
    * rounding, and the final (raw rrf, doc_id) head are bit-identical
    * cross-engine. Absent-from-list is emitted as rank 0 (contribution
    * 0), keeping the output scalar-sortable.
    *
    * Scale shape: both heads are top-K (TakeOrdered / per-query window
    * over a broadcast singleton query), so the fusion join touches 2K
    * rows total — the corpus-sized work is exactly one BM25 postings
    * pass and one dense scan (swap in q40/q203's IVF for the dense side
    * at index scale; the fusion stage is unchanged). */
  def q205HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val k = 20
    val lex = bm25Scores(t(spark, dir, "documents"),
        Seq("merge", "batch", "spark"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"),
        row_number().over(
          Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long").as("r_lex"))
    val emb = t(spark, dir, "embeddings")
    val dense = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") === 0), "vec_id", "embedding", k)
      .select(col("neighbor_id").as("doc_id"), col("rn").as("r_dense"))
    val rrfRaw =
      when(col("r_lex") > 0, lit(1.0) / (lit(60L) + col("r_lex")))
        .otherwise(lit(0.0)) +
      when(col("r_dense") > 0, lit(1.0) / (lit(60L) + col("r_dense")))
        .otherwise(lit(0.0))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_lex"), lit(0L)).as("r_lex"),
        coalesce(col("r_dense"), lit(0L)).as("r_dense"))
      .withColumn("rrf_raw", rrfRaw)
      .orderBy(col("rrf_raw").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("r_lex"), col("r_dense"),
        round(col("rrf_raw"), 6).as("rrf"))
  }

  // ---------------------------------------------------------------- q135
  /** Boilerplate-passage profile: chunk every document into
    * NON-overlapping 8-token passages, flag passages that occur in ≥2
    * distinct documents, and report each document's boilerplate fraction
    * — the passage-level dedup signal (headers, footers, licence
    * blurbs, navigation text) that whole-document dedup (q22) and
    * near-dup pairing (q33) both miss, and the screen a corpus pipeline
    * runs before trimming repeated spans out of training text.
    *
    * Scale shape: passages come off ONE fused tokenize+chunk pass per
    * document ([[graft.functions.WordChunks]], stride = size → no
    * overlap); everything past the scan is keyed by the passage's
    * xxhash64, so the shuffles (distinct doc-passage pairs → passage
    * document-frequency; df rejoin) ship 8-byte keys, never passage
    * text — the q63 hash-join precedent (collisions immaterial at any
    * realistic passage universe; the oracle groups by the passage text
    * itself and must agree). Tokenizing twice (pdf side + rejoin side)
    * mirrors the q131 two-scan finding: the fused scan is cheaper than
    * persisting an exploded frame. */
  def boilerplatePassages(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id",
                          size: Int = 8): DataFrame = {
    def passages(d: DataFrame): DataFrame = d.select(col(idCol).as("doc_id"),
      explode(transform(graft.functions.wordChunks(col(textCol), size, size),
        c => xxhash64(c))).as("pkey"))
    val pdf = passages(docs).distinct()
      .groupBy(col("pkey")).agg(count(lit(1)).as("pdf"))
    passages(docs).join(pdf, "pkey")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("pdf") >= 2, lit(1L)).otherwise(lit(0L)))
          .as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") /
          col("n_passages").cast("double"), 6))
      .orderBy("doc_id")
  }

  /** q135 entry: 8-token passages over the documents table. */
  def q135BoilerplatePassages(spark: SparkSession, dir: String): DataFrame =
    boilerplatePassages(t(spark, dir, "documents"))

  // --------------------------------------------------------------- q207
  /** Duplicated-span detection — the ExactSubstr dedup signal (Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL 2022): hash the w-token window at EVERY token position and
    * flag windows whose exact text occurs ≥2 times ANYWHERE in the
    * corpus — another document or elsewhere in the same one. Stride 1
    * is what makes the guarantee exact and alignment-independent: any
    * verbatim span of ≥ w tokens repeated at two positions yields the
    * identical window text at both (a strided variant silently loses
    * this — two copies offset by ≢ 0 mod s never align on a common
    * window). Windows are occurrence-counted, not distinct-doc like
    * q135's non-overlapping-passage df — the paper's "any substring
    * occurring twice" rule — so within-document self-repetition counts.
    *
    * Scale shape: one window row PER TOKEN POSITION — the linear-in-
    * tokens cost exact substring dedup genuinely pays (the paper's
    * suffix array is the same O(tokens) class). Windows come off ONE
    * fused shingle pass ([[graft.functions.WordNgrams]] non-distinct ≡
    * stride-1 windows); every shuffle past the scan is keyed by the
    * window's xxhash64 — 8 bytes, never window text (q63/q135's
    * hash-join precedent; the oracle groups by the window text itself
    * and must agree). Occurrence counts combine map-side, the ≥2 filter
    * drops the long unique tail BEFORE the LEFT SEMI rejoin, and
    * n_windows is integer arithmetic on the token count — no second
    * tokenize. When the full per-position index is too dear, q208's
    * winnowing is the subsampled variant: 2/(W+1) density for a
    * W + k − 1 detection floor. */
  def duplicatedSpans(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", w: Int = 16): DataFrame = {
    val wins = docs.select(col(idCol).as("doc_id"),
        size(graft.functions.wordTokens(col(textCol))).cast("long")
          .as("n_tok"),
        explode(transform(
          graft.functions.wordNgrams(col(textCol), w, distinct = false),
          c => xxhash64(c))).as("h"))
      // WordNgrams emits one whole-text shingle for docs under w tokens;
      // those have no full window — drop them
      .filter(col("n_tok") >= w)
    val dup = wins.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    wins.join(dup, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_windows"), first(col("n_tok")).as("n_tok"))
      .withColumn("n_windows", col("n_tok") - lit(w) + lit(1))
      .select(col("doc_id"), col("n_windows"), col("dup_windows"),
        round(col("dup_windows").cast("double") /
          col("n_windows").cast("double"), 6).as("dup_share"))
      .orderBy("doc_id")
  }

  /** q207 entry: 16-token windows at every position over the documents
    * table — flags any repeated span of ≥ 16 tokens, at any alignment. */
  def q207DuplicatedSpans(spark: SparkSession, dir: String): DataFrame =
    duplicatedSpans(t(spark, dir, "documents"))

  // --------------------------------------------------------------- q208
  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003 — the MOSS algorithm): hash every k-token shingle, slide a
    * W-hash window over the hash sequence, select each window's MINIMUM
    * hash; the distinct selected values are the document's fingerprint
    * set. The paper's guarantee: any shared span of ≥ W + k − 1 tokens
    * yields at least one shared fingerprint, at an expected index
    * density of 2/(W+1) of the full shingle set — so the pair index
    * costs ~(W+1)/2× less than q33's full inverted index for the same
    * detection floor. Output is the MOSS-style pair report: document
    * pairs sharing ≥ minShared fingerprints.
    *
    * Determinism/oracle: the shingle hash is the first 13 hex chars of
    * md5 — FIXED-WIDTH lowercase hex, so lexicographic min ≡ numeric
    * min and DuckDB replays the selection exactly (the q164 digest
    * precedent without the integer fold).
    *
    * Scale shape: fingerprint selection is a pure per-row projection
    * (fused shingler + one transform over window starts — O(n·W) string
    * compares against doc-bounded arrays); the pair join is q33's
    * inverted-index shape over the winnowed set, with the same hot-key
    * guard — fingerprints shared by more than maxDocFreq docs are
    * corpus boilerplate and are dropped before the d² pair fan-out
    * (singletons drop too: df ≥ 2 is necessary to ever pair). */
  def winnowPairs(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id", k: Int = 4, window: Int = 4,
                  minShared: Int = 2, maxDocFreq: Int = 50): DataFrame = {
    // hs is materialized as its own projection: it is referenced once
    // per window position downstream, and CollapseProject refuses to
    // inline a multiply-referenced non-cheap alias — without this the
    // md5-shingle transform re-evaluates per POSITION, turning the
    // selection from O(n·W) into O(n²) md5s per document (measured:
    // 31 s → sub-second at sf0.1)
    val hs = docs
      .filter(size(graft.functions.wordTokens(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"),
        transform(
          graft.functions.wordNgrams(col(textCol), k, distinct = false),
          g => substring(md5(g), 1, 13)).as("hs"))
    val fp = hs.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(1), greatest(size(col("hs")) - window + 1, lit(1))),
        i => array_min(slice(col("hs"), i, lit(window)))))).as("fp"))
    val kept = fp.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDocFreq).select(col("fp"))
    val f2 = fp.join(kept, Seq("fp"), "left_semi")
    f2.as("a").join(f2.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** q208 entry: 4-token shingles, window 4 (detection floor: shared
    * spans of ≥ 7 tokens), pairs sharing ≥ 2 fingerprints. */
  def q208WinnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairs(t(spark, dir, "documents"))

  // --------------------------------------------------------------- q209
  /** Chunk-level dedup WITH document reconstruction — the CCNet recipe
    * (Wenzek et al., LREC 2020: paragraph-hash dedup keeping one copy
    * corpus-wide, then documents rebuilt from their surviving
    * paragraphs). q135 only PROFILES repeated passages; this operator
    * actually produces the cleaned corpus: every non-overlapping
    * `chunk`-token passage keeps exactly its globally FIRST occurrence
    * (minimal (doc_id, position) — deterministic, order-free), all
    * later occurrences — in other documents or later in the same one —
    * are dropped, and each document's clean text is the concatenation
    * of its surviving passages in position order.
    *
    * Scale shape — the reconstruction ships NO text through a shuffle:
    * passages are keyed by xxhash64 (8 bytes; q63/q135 precedent — the
    * oracle groups by passage text and must agree), the first-occurrence
    * winner per hash is one `min(struct(doc_id, pos))` aggregate
    * (map-side combinable), and what returns to each document is only
    * its kept POSITION list (small ints). The clean text is then rebuilt
    * by a pure projection over the original text — re-chunk, pick the
    * kept indices, `concat_ws` — i.e. the only text-sized passes are the
    * scans, exactly like q135's documented two-scan tokenize. A document
    * whose every passage lost (an exact duplicate of earlier text)
    * survives the left join with an empty keep-list → clean_text ''. */
  def dedupChunksRebuild(docs: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id",
                         chunk: Int = 8): DataFrame = {
    val base = docs
      .filter(size(graft.functions.wordTokens(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val chunks = base.select(col("doc_id"),
        posexplode(graft.functions.wordChunks(col("text"), chunk, chunk)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64(col("col")).as("h"))
    // global first occurrence per passage: struct ordering is
    // lexicographic (doc_id, then pos) — one map-side-combined min
    val winners = chunks.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.pos").as("pos"))
    val keptPos = winners.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("keep"))
    val arr = graft.functions.wordChunks(col("text"), chunk, chunk)
    base.join(keptPos, Seq("doc_id"), "left")
      .withColumn("keep",
        coalesce(col("keep"), array().cast("array<long>")))
      .select(col("doc_id"),
        size(arr).cast("long").as("n_chunks"),
        size(col("keep")).cast("long").as("n_kept"),
        array_join(transform(col("keep"),
          p => element_at(arr, p.cast("int") + lit(1))), " ")
          .as("clean_text"))
      .orderBy("doc_id")
  }

  /** q209 entry: 8-token passages (q135's unit) over the documents
    * table, rebuilt after global first-occurrence dedup. */
  def q209ChunkDedupRebuild(spark: SparkSession, dir: String): DataFrame =
    dedupChunksRebuild(t(spark, dir, "documents"))

  // --------------------------------------------------------------- q221
  /** N-gram novelty rate per document in ingest (doc-id) order: the
    * fraction of a document's distinct 5-gram shingles never seen in
    * any earlier document — the marginal-content curve behind "is this
    * crawl slice still adding anything". Novelty ≈ 0 flags a document
    * assembled entirely from seen text even when no single pairwise
    * near-dup fires, complementing q123's incremental pair dedup and
    * q222's source-level Heaps curve with a per-document signal.
    *
    * Scale shape: shingles travel as xxhash64 longs (q63/q207's
    * contract — counts identical barring 64-bit collisions, which the
    * text-shingled oracle bounds at ~(Σ distinct shingles)²/2⁶⁴ — and
    * the hashes never leave the shuffle). First appearance is ONE
    * min-aggregate keyed by hash, per-document totals ONE count keyed
    * by id, and the two doc-keyed frames join id-to-id — the
    * corpus-pair fan-out a naive gram-keyed self-join would do never
    * happens. Documents shorter than n tokens contribute their whole
    * token sequence as ONE truncated gram (q33's shingler contract;
    * the oracle replays it), and empty documents drop out. */
  def ngramNovelty(docs: DataFrame, textCol: String, idCol: String,
                   n: Int = 5): DataFrame = {
    // persisted: the narrow (id, 8-byte hash) frame feeds BOTH aggregates
    // below — without it the tokenize+shingle+hash corpus scan runs twice
    // (the minhashNearDupPairs precedent; harness releases the persist)
    val grams = Dedup.shingles(docs, textCol, n)
      .select(col(idCol), explode(col("shingles")).as("gram"))
      .select(col(idCol), xxhash64(col("gram")).as("g"))
      .persist()
    val novel = grams.groupBy(col("g")).agg(min(col(idCol)).as("first_id"))
      .groupBy(col("first_id")).agg(count(lit(1)).as("nn"))
    grams.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
      .join(novel, col(idCol) === col("first_id"), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("nn"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") /
          col("n_shingles").cast("double"), 6))
      .orderBy(idCol)
  }

  /** q221 entry: 5-gram novelty over the documents corpus. */
  def q221NgramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNovelty(t(spark, dir, "documents"), "text", "doc_id")

  // --------------------------------------------------------------- q227
  /** Prefix-cache savings estimator: how many tokens of serving-time
    * prefill a KV-cache with prefix reuse would skip, per source. Two
    * requests sharing their first k tokens recompute nothing past the
    * cached prefix, so for every group of documents with an identical
    * k-token prefix the cache saves (group size − 1)·k tokens — the
    * standard back-of-envelope for prompt-caching ROI, run over the
    * corpus standing in for a request log (shared instruction
    * boilerplate ⇒ high savings; organic text ⇒ near zero).
    *
    * Scale shape: ONE corpus pass — a pure projection computes md5 of
    * the k-token prefix (fixed 32-char key; the prefix text itself
    * never shuffles, q164's digest-key precedent) into a single
    * (source, prefix) aggregate carrying doc and token counts;
    * sub-k-token documents share the NULL prefix group (they cannot
    * seed a k-token cache line — the oracle replays the rule) so the
    * per-source rollup needs no second scan and no join. */
  def prefixCacheShare(docs: DataFrame, textCol: String, idCol: String,
                       srcCol: String, k: Int = 16): DataFrame = {
    require(k > 0, s"prefixCacheShare: k must be positive, got $k")
    val tk = graft.functions.wordTokens(col(textCol))
    docs.select(col(srcCol).as("source"),
        size(tk).cast("long").as("n_tok"),
        when(size(tk) >= k, md5(array_join(slice(tk, 1, k), " ")))
          .as("pfx"))
      .groupBy(col("source"), col("pfx"))
      .agg(count(lit(1)).as("c"), sum(col("n_tok")).as("st"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        sum(col("st")).as("n_tokens"),
        count(col("pfx")).as("n_prefixes"),
        sum(when(col("pfx").isNotNull && col("c") > 1, col("c") - 1)
          .otherwise(lit(0L))).as("dup_docs"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_prefixes"), col("dup_docs"),
        (col("dup_docs") * k).as("cacheable_tokens"),
        round((col("dup_docs") * k).cast("double") /
          col("n_tokens").cast("double"), 6).as("savings_frac"))
      .orderBy("source")
  }

  /** q227 entry: 16-token prefix-cache savings per source. */
  def q227PrefixCacheShare(spark: SparkSession, dir: String): DataFrame =
    prefixCacheShare(t(spark, dir, "documents"), "text", "doc_id", "source")

  // --------------------------------------------------------------- q210
  /** Retrieval-quality evaluation with planted ground truth: the eval
    * harness every retrieval stack runs before shipping an index. A
    * deterministic md5-keyed ~1/64 slice of documents becomes the probe
    * set, each probe's query being the DISTINCT tokens 5–12 of
    * its own text — so the probe's parent document is a known-relevant
    * answer. Every probe is scored against the whole corpus with q131's
    * exact Okapi BM25 arithmetic (batch form: one tf pass serves ALL
    * probes), and the parent's rank yields the standard metrics:
    * hit@10 and reciprocal rank@10 (MRR's per-probe term; with a single
    * relevant document nDCG@k is the same monotone signal, so it is
    * deliberately not duplicated).
    *
    * Rank WITHOUT a global sort: parent_rank = 1 + count of candidates
    * strictly better than the parent under the deterministic
    * (score desc, doc_id asc) order — an aggregate over the per-probe
    * candidate set, not a window over a sorted corpus; at index scale
    * the candidate set is already top-k'd by the retrieval head, and
    * this metric layer is unchanged.
    *
    * Determinism: scores are the q131 recipe (idf/tf tree mirrored
    * token-for-token in the oracle, DECIMAL(28,12) order-free sum, cast
    * double) — bit-equal cross-engine, so rank comparisons and the
    * 1.0/rank IEEE divide are hash-exact.
    *
    * Caching: the tokenized corpus is persisted and NOT unpersisted
    * here — the returned frame is lazy and still reads it. The caller
    * releases it with `spark.catalog.clearCache()` after consuming the
    * result, as `graft.Bench` and `graft.Verify` do per query; a library
    * caller that skips this keeps one cached token frame per call. */
  def retrievalEval(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", k: Int = 10): DataFrame = {
    val toks = graft.functions.wordTokens(col(textCol))
    // tokenize ONCE: probes, tf, and corpus stats all derive from the
    // same persisted (id, md5-prefix, toks) frame instead of each
    // re-running the tokenizer over the corpus (three full passes —
    // guide §1.2 "don't compute things you throw away"); the frame is
    // token arrays + a 2-char hash, far smaller than the raw text, and
    // the harness's clearCache releases it after the query
    val tokenized = docs
      .select(col(idCol), substring(md5(col(textCol)), 1, 2).as("mdp"),
        toks.as("toks"))
      .persist()
    // ~1/64 md5 slice: an eval PROBE SET is a bounded sample by design
    // (industry retrieval evals run hundreds-to-thousands of queries
    // regardless of corpus size); the batch-scoring cost is
    // |probes| × |docs matching any probe term|, so the sample fraction
    // — not the corpus — is the lever that keeps it linear in the corpus
    val probes = tokenized
      .filter(col("mdp").isin("00", "01", "02", "03") &&
        size(col("toks")) >= 12)
      .select(col(idCol).as("probe_id"),
        explode(array_distinct(slice(col("toks"), 5, 8))).as("tok"))
    val terms = probes.select(col("tok")).distinct()
    val tf = tokenized
      .select(col(idCol).as("doc_id"),
        size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
      .join(broadcast(terms), Seq("tok"), "left_semi")
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val stats = tokenized.select(size(col("toks")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val dfT = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val k1 = lit(1.25)
    val b = lit(0.75)
    val idf = log(
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) +
        lit(1.0))
    val s = idf * (col("tf") * (k1 + lit(1.0))) /
      (col("tf") + k1 * (lit(1.0) - b + b * col("dl") / col("avgdl")))
    // fan-out form deliberately: a per-doc token→score MAP folded per
    // (probe, doc) pair was tried and measured 3× WORSE at the sf1 tier
    // (map lookups are interpreted HOFs and the map duplicates into
    // every pair row) — the codegen'd join + map-side-combined decimal
    // aggregate wins despite shipping |matches|·|terms| rows
    // the term score projects ONCE per (doc, term) row BEFORE the probe
    // fan-out — Catalyst does not push expressions below a join on its
    // own, and recomputing the idf/tf tree per fan-out row costs
    // |probes-per-term|× the arithmetic
    val termScores = tf.join(broadcast(dfT), "tok")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("tok"),
        s.cast("decimal(28,12)").as("sdec"))
    val scores = termScores
      .join(broadcast(probes), Seq("tok"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(sum(col("sdec")).cast("double").as("score"))
      // the parent-score extraction below is a self-join: without this
      // persist the whole tokenize+score subplan executes TWICE
      // (measured 2× the query cost); the harness's clearCache releases
      // it after the query (q193's persisted-histogram precedent)
      .persist()
    val parent = scores.filter(col("doc_id") === col("probe_id"))
      .select(col("probe_id"), col("score").as("ps"))
    scores.join(parent, Seq("probe_id"))
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_cand"),
        (sum(when(col("score") > col("ps") ||
            (col("score") === col("ps") &&
              col("doc_id") < col("probe_id")), lit(1L))
          .otherwise(lit(0L))) + lit(1L)).as("parent_rank"))
      .select(col("probe_id"), col("n_cand"), col("parent_rank"),
        when(col("parent_rank") <= k, lit(1L)).otherwise(lit(0L))
          .as("hit10"),
        when(col("parent_rank") <= k,
          lit(1.0) / col("parent_rank")).otherwise(lit(0.0)).as("rr10"))
      .orderBy("probe_id")
  }

  /** q210 entry: BM25 self-retrieval eval over the documents table —
    * parent rank, hit@10, RR@10 per planted probe. */
  def q210RetrievalEval(spark: SparkSession, dir: String): DataFrame =
    retrievalEval(t(spark, dir, "documents"))

  // --------------------------------------------------------------- q211
  /** Trained document classifier — multinomial naive Bayes with Laplace
    * smoothing (Manning/Raghavan/Schütze IR ch.13), the fastText-style
    * linear-filter shape every LLM corpus pipeline runs (CCNet's quality
    * model, GPT-3's WebText filter): a distributed FIT (per-class token
    * counts + class priors — two map-side-combined aggregates), a
    * broadcast MODEL (the dense class×vocab log-probability grid, zeros
    * materialized so unseen (class,token) pairs get the smoothed floor),
    * and a projection-shaped SCORE (token stream ⋈ broadcast grid,
    * per-(doc,class) log-sum, argmax). Resubstitution eval: predicted
    * class vs the document's true label, per doc.
    *
    * Determinism: per-(doc,class) log-likelihoods sum as DECIMAL(28,12)
    * (order-free), the prior adds as one IEEE op, and argmax is
    * `min(struct(-score, class))` — sign-flip is exact, struct order
    * lexicographic — which the oracle replays as row_number() ORDER BY
    * score DESC, class ASC. ln() is shared fdlibm behavior, proven
    * hash-exact by q131.
    *
    * Scale shape: fit is two aggregates over the token stream; the
    * model grid is ENFORCED ≤ (maxVocab+1)·|classes| — `maxVocab` caps
    * the vocabulary at the top-V tokens by corpus frequency (tie-break
    * token asc, both exact → deterministic) and folds the tail into one
    * OOV bucket row per class, so a 10⁸-type crawl vocabulary can never
    * reach the broadcast. When the corpus vocabulary fits under the cap
    * the OOV bucket is EMPTY and never materializes: the mapping join
    * matches every token, the summed counts equal the raw counts, and
    * the model — including the Laplace denominator — is bit-identical
    * to the uncapped fit (which is why the q211/q213 oracles replay the
    * uncapped arithmetic). Scoring fans the token stream out |classes|×
    * and immediately re-aggregates map-side to |docs|·|classes| rows.
    * No corpus-sized sort or window anywhere (top-V selection is
    * TakeOrderedAndProject over the (token,count) aggregate — partial
    * per-partition top-V, never the corpus). Token-less documents have
    * no likelihood and are excluded by construction (documented). */
  def naiveBayesClassify(docs: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id",
                         classCol: String = "lang",
                         maxVocab: Int = DefaultMaxVocab): DataFrame =
    naiveBayesScores(docs, docs, textCol, idCol, classCol, maxVocab)
      .groupBy(col("doc_id"), col("truth"))
      .agg(min(struct((-col("score")).as("ns"), col("clazz").as("c")))
        .as("m"))
      .select(col("doc_id"), col("truth").as(classCol),
        col("m.c").as("pred"),
        when(col("truth") === col("m.c"), lit(1L)).otherwise(lit(0L))
          .as("correct"))
      .orderBy("doc_id")

  /** Default vocabulary cap for the naive-Bayes family: 2¹⁶ token
    * types + the OOV bucket (the same power-of-two ceiling convention
    * as [[Similarity.ivfAutoK]]'s codebook). Bounds the broadcast grid
    * at (65536+1)·|classes| rows no matter how large the corpus
    * vocabulary grows — ample for a language/quality filter (fastText
    * lang-ID ships ~2×10⁴ effective features) and ~2.5 MB·|classes|
    * broadcast-side. */
  val DefaultMaxVocab: Int = 65536

  /** Sentinel token for the OOV bucket. U+FFFD is non-word, so
    * [[graft.functions.wordTokens]] (\\W+ split) can never emit it —
    * no real token can collide. */
  private[graft] val OovToken: String = "�"

  /** The fit+score core shared by q211 (argmax classify) and q213 (AUC):
    * fit on `fitDocs`, score every `evalDocs` row against every class.
    * Returns (doc_id, truth, clazz, score) with the exact DECIMAL-summed
    * log-likelihood + prior (see [[naiveBayesClassify]]).
    *
    * `maxVocab` is the ENFORCED scale contract: the fitted vocabulary
    * is the top-`maxVocab` tokens by corpus frequency (count desc,
    * token asc — exact longs, deterministic); every other fit token
    * folds into one OOV bucket whose per-class count is the tail's
    * mass, so the dense grid is ≤ (maxVocab+1)·|classes| rows by
    * construction. Eval tokens outside the fitted vocabulary score as
    * OOV when the bucket exists (cap bound) and are dropped when it
    * does not (cap unbound — bit-identical to the uncapped model, the
    * form the oracles replay). */
  def naiveBayesScores(fitDocs: DataFrame, evalDocs: DataFrame,
                       textCol: String, idCol: String,
                       classCol: String,
                       maxVocab: Int = DefaultMaxVocab): DataFrame = {
    require(maxVocab > 0, s"maxVocab must be positive, got $maxVocab")
    def tokStream(d: DataFrame): DataFrame = d.select(
      col(idCol).as("doc_id"), col(classCol).as("truth"),
      explode(graft.functions.wordTokens(col(textCol))).as("tok"))
    val toks = tokStream(fitDocs)
    val rawCnt = toks.groupBy(col("truth").as("clazz"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    // top-V vocabulary: TakeOrderedAndProject over the (token, count)
    // aggregate — per-partition partial top-V, bounded merge, never a
    // corpus-sized global sort
    val topV = rawCnt.groupBy(col("tok")).agg(sum(col("cnt")).as("tf"))
      .orderBy(col("tf").desc, col("tok").asc)
      .limit(maxVocab)
      .select(col("tok"), lit(true).as("in_v"))
    // fold the tail into the OOV bucket; when the cap does not bind
    // every token matches and cnt == rawCnt exactly (no OOV rows)
    val cnt = rawCnt.join(broadcast(topV), Seq("tok"), "left")
      .select(col("clazz"),
        when(col("in_v"), col("tok")).otherwise(lit(OovToken)).as("tok"),
        col("cnt"))
      .groupBy(col("clazz"), col("tok")).agg(sum(col("cnt")).as("cnt"))
    val tot = cnt.groupBy(col("clazz")).agg(sum(col("cnt")).as("tot"))
    val vocab = cnt.select(col("tok")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val classes = fitDocs.groupBy(col(classCol).as("clazz"))
      .agg(count(lit(1)).as("n_docs"))
    val nTotal = fitDocs.agg(count(lit(1)).as("n_total"))
    // dense class×vocab grid: unseen pairs materialize cnt=0 so the
    // smoothed floor ln(1/(tot+V)) is a real row, not a dropped token
    val grid = vocab.crossJoin(classes.select(col("clazz")))
      .join(cnt, Seq("clazz", "tok"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .join(tot, "clazz")
      .crossJoin(vsize)
      .select(col("clazz"), col("tok"),
        log((col("cnt") + lit(1.0)) / (col("tot") + col("v")))
          .as("logp"))
    val priors = classes.crossJoin(nTotal)
      .select(col("clazz"),
        log(col("n_docs").cast("double") / col("n_total")).as("logprior"))
    // eval tokens outside top-V rewrite to the OOV sentinel; the inner
    // grid join then scores them against the bucket when it exists and
    // drops them when it does not (uncapped behavior preserved)
    tokStream(evalDocs)
      .join(broadcast(topV), Seq("tok"), "left")
      .select(col("doc_id"), col("truth"),
        when(col("in_v"), col("tok")).otherwise(lit(OovToken)).as("tok"))
      .join(broadcast(grid), Seq("tok"))
      .groupBy(col("doc_id"), col("truth"), col("clazz"))
      .agg(sum(col("logp").cast("decimal(28,12)")).cast("double")
        .as("ll"))
      .join(broadcast(priors), "clazz")
      .select(col("doc_id"), col("truth"), col("clazz"),
        (col("ll") + col("logprior")).as("score"))
  }

  /** q211 entry: naive-Bayes language classifier over the documents
    * table — per-doc prediction vs true label (fit and eval on the same
    * corpus; accuracy is data-dependent and NOT asserted, the fit/score
    * machinery and its exact arithmetic are). */
  def q211NaiveBayes(spark: SparkSession, dir: String): DataFrame =
    naiveBayesClassify(t(spark, dir, "documents"))

  // --------------------------------------------------------------- q213
  /** One-vs-rest ROC AUC for the q211 classifier — the threshold-free
    * ranking metric (Mann–Whitney U / rank-sum identity: AUC =
    * (Σ avg-ranks of positives − n⁺(n⁺+1)/2) / (n⁺·n⁻), Hanley &
    * McNeil 1982) every filter-model deployment reports alongside
    * accuracy. Scored one-vs-rest per class over a deterministic
    * md5-keyed ~1/16 EVAL SLICE (ranking needs a per-class total order,
    * so the frame it sorts is bounded by the documented eval-sample
    * contract — the q210 lever, not corpus-sized).
    *
    * Exactness: ties get average ranks via the all-integer identity
    * 2·avg_rank = 2·rank_min + tie_count − 1, so the numerator and
    * denominator are exact longs and the single IEEE divide (+ round 6)
    * is bit-equal cross-engine. Classes missing a positive or negative
    * in the slice have no defined AUC and are excluded (documented). */
  def classifierAuc(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id",
                    classCol: String = "lang",
                    maxVocab: Int = DefaultMaxVocab): DataFrame = {
    val sample = docs
      .filter(substring(md5(col(textCol)), 1, 1) === "0")
    aucFromScores(
      naiveBayesScores(docs, sample, textCol, idCol, classCol, maxVocab),
      classCol)
  }

  /** Rank-sum AUC over a (doc_id, truth, clazz, score) frame — the
    * arithmetic core of [[classifierAuc]], separable so specs can feed
    * hand-computed score sets (ties included). */
  def aucFromScores(sc: DataFrame, classCol: String = "lang"): DataFrame = {
    val w = Window.partitionBy(col("clazz")).orderBy(col("score"))
    val tie = Window.partitionBy(col("clazz"), col("score"))
    sc.withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("tc", count(lit(1)).over(tie))
      .withColumn("pos",
        when(col("truth") === col("clazz"), lit(1L)).otherwise(lit(0L)))
      .groupBy(col("clazz"))
      .agg(sum(col("pos")).as("n_pos"),
        (count(lit(1)) - sum(col("pos"))).as("n_neg"),
        sum(when(col("pos") === 1L,
          lit(2L) * col("rnk") + col("tc") - lit(1L))
          .otherwise(lit(0L))).as("num2"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("clazz").as(classCol), col("n_pos"), col("n_neg"),
        round((col("num2") - col("n_pos") * (col("n_pos") + 1))
            .cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double"), 6)
          .as("auc"))
      .orderBy(classCol)
  }

  /** q213 entry: per-language one-vs-rest AUC of the naive-Bayes
    * scores over the md5-sliced eval sample. */
  def q213ClassifierAuc(spark: SparkSession, dir: String): DataFrame =
    classifierAuc(t(spark, dir, "documents"))

  // --------------------------------------------------------------- q214
  /** RAG context assembly: retrieve, rank, and PACK — the last step of
    * every retrieval-augmented generation pipeline. The q131 BM25 head
    * ranks candidates (exact arithmetic, deterministic (score desc, id)
    * order), then documents fill the model's context window in rank
    * order until the token budget is exhausted: a document is kept
    * while the running token total (fused WordTokens count, no second
    * tokenize pass) stays ≤ budget, and the first overflow truncates
    * the context — the prefix rule, i.e. exactly what a context
    * assembler does, and (unlike skip-and-continue knapsack filling) a
    * pure cumulative-sum predicate with no sequential state.
    *
    * Scale shape: corpus-sized work is the one BM25 postings pass; the
    * ranking/packing window runs over the top-k HEAD only (k = 50 here
    * — a LIMIT above the window, so the window frame is bounded by
    * construction, never corpus-sized). */
  def ragContextPack(docs: DataFrame, terms: Seq[String], k: Int = 50,
                     tokenBudget: Long = 512L,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val head = bm25Scores(docs, terms)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    // the k-row head broadcasts into the corpus-side length projection
    val withLen = docs.select(col(idCol).as("doc_id"),
        size(graft.functions.wordTokens(col(textCol))).cast("long")
          .as("n_tok"))
      .join(broadcast(head), Seq("doc_id"))
    val rankW = Window.orderBy(col("score").desc, col("doc_id"))
    withLen
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .withColumn("cum_tok", sum(col("n_tok")).over(
        rankW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tok") <= tokenBudget)
      .select(col("rank"), col("doc_id"), col("n_tok"), col("cum_tok"),
        round(col("score"), 6).as("score"))
      .orderBy("rank")
  }

  /** q214 entry: q131's query packed into a 512-token context. */
  def q214RagContextPack(spark: SparkSession, dir: String): DataFrame =
    ragContextPack(t(spark, dir, "documents"),
      Seq("merge", "batch", "spark"))

  // --------------------------------------------------------------- q216
  /** Matryoshka truncation audit (Kusupati et al., NeurIPS 2022): how
    * much nearest-neighbor structure survives when embeddings are cut to
    * their prefix dims — the measurement behind every "store 64 dims,
    * search 32" serving decision. For a deterministic probe sample
    * (vec_id ≡ 0 mod 50), the exact cosine top-k under the FULL vectors
    * is compared with the top-k under the `prefixDims`-dim prefix;
    * output is per-probe overlap@k.
    *
    * Determinism: both heads are [[Similarity.bruteForceTopK]] — 6-dp
    * rounded sims with id tiebreaks (q24's recipe), so both rankings and
    * the overlap counts replay exactly in the oracle. Scale shape: the
    * probe sample is FIXED-SIZE (≤ `maxProbes`, ids ≡ 0 mod `sampleMod`
    * below sampleMod·maxProbes — q172's fixed-sample contract), so the
    * two broadcast-probe corpus scans stay LINEAR in the corpus; a
    * mod-only fraction made the audit O(n²/mod) and measured 16.7× at a
    * 10× corpus before the cap. Plus a k²-bounded head join; swap either
    * head for q40/q203's IVF at index scale — the audit layer is
    * unchanged. */
  def matryoshkaAudit(emb: DataFrame, idCol: String, embCol: String,
                      prefixDims: Int = 32, k: Int = 10,
                      sampleMod: Int = 50, maxProbes: Int = 40): DataFrame = {
    val probes = emb.filter(pmod(col(idCol), lit(sampleMod)) === 0 &&
      col(idCol) < lit(sampleMod.toLong * maxProbes))
    def truncated(d: DataFrame) = d.select(col(idCol),
      slice(col(embCol), 1, prefixDims).as(embCol))
    val full = Similarity.bruteForceTopK(emb, probes, idCol, embCol, k)
    val trunc = Similarity.bruteForceTopK(truncated(emb),
      truncated(probes), idCol, embCol, k)
    val matches = full.as("f").join(trunc.as("t"),
        col("f.query_id") === col("t.query_id") &&
          col("f.neighbor_id") === col("t.neighbor_id"))
      .groupBy(col("f.query_id").as("query_id"))
      .agg(count(lit(1)).as("n_match"))
    probes.select(col(idCol).as("query_id"))
      .join(matches, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        round(coalesce(col("n_match"), lit(0L)).cast("double") /
          lit(k).cast("double"), 6).as("overlap_at_k"))
      .orderBy("query_id")
  }

  /** q216 entry: 32-of-64-dim truncation, overlap@10, fixed mod-50
    * probe sample (ids 0,50,…,1950 — ≤40 probes at any scale). */
  def q216MatryoshkaAudit(spark: SparkSession, dir: String): DataFrame =
    matryoshkaAudit(t(spark, dir, "embeddings"), "vec_id", "embedding")

  // --------------------------------------------------------------- q217
  /** Curriculum difficulty bands: the schedule report for
    * surprisal-ordered (easy→hard) training — q148's per-document
    * unigram cross-entropy bucketed into fixed 0.01-nat bands, with doc
    * and token volumes per band and the cumulative token share a
    * curriculum consumes by the time it reaches each difficulty level
    * (Bengio et al., ICML 2009 ordering; perplexity-binned data
    * curricula are its corpus-scale form).
    *
    * Fixed-width bands, NOT quantiles, by design: the band of a
    * document is a pure projection of its (deterministic, 6-dp) score —
    * no global sort, no corpus-sized window; the cumulative share runs
    * over the ~dozens-row band frame. */
  def curriculumBands(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val all = Window.partitionBy()
    val ord = Window.orderBy(col("band"))
    unigramSurprisal(docs, idCol, textCol)
      .withColumn("band", floor(col("xent") * lit(100)).cast("long"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("cum_tok", sum(col("n_tokens")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("n_tokens")).over(all))
      .select(col("band"), col("n_docs"), col("n_tokens"),
        round(col("cum_tok").cast("double") / col("total").cast("double"),
          6).as("cum_token_share"))
      .orderBy("band")
  }

  /** q217 entry: curriculum bands over the documents table. */
  def q217CurriculumBands(spark: SparkSession, dir: String): DataFrame =
    curriculumBands(t(spark, dir, "documents"))

  // --------------------------------------------------------------- q218
  /** Passage-level quality filtering WITH document reconstruction — the
    * FineWeb/CCNet line-level recipe at passage granularity: score every
    * non-overlapping `chunk`-token passage by its mean token surprisal
    * under the corpus unigram model (q148's arithmetic), DROP passages
    * above `maxXent` (rare-token noise, mangled text), and rebuild each
    * document from its surviving passages — q209's rebuild machinery
    * driven by a quality predicate instead of a dedup winner.
    *
    * Scale shape: the unigram model is one map-side-combined count
    * aggregate; passage scores come off one fused chunk+tokenize
    * explode joined to the token-surprisal table (the q148 df-weighted
    * shuffle); what returns to each document is only its kept POSITION
    * list, and the clean text is a pure re-chunk projection (q209).
    * Thresholding on the decimal-summed mean keeps the boundary
    * decision bit-identical cross-engine. */
  def passageFilterRebuild(docs: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id", chunk: Int = 8,
                           maxXent: Double = 3.45): DataFrame = {
    val base = docs
      .filter(size(graft.functions.wordTokens(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val cnt = base
      .select(explode(graft.functions.wordTokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("n_total"))
    val surp = cnt.crossJoin(broadcast(tot))
      .select(col("tok"),
        (-log(col("c").cast("double") / col("n_total").cast("double")))
          .cast("decimal(28,12)").as("s"))
    val chunkTok = base.select(col("doc_id"),
        posexplode(graft.functions.wordChunks(col("text"), chunk, chunk)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        explode(graft.functions.wordTokens(col("col"))).as("tok"))
    val keptPos = chunkTok.join(surp, "tok")
      .groupBy(col("doc_id"), col("pos"))
      .agg((sum(col("s")).cast("double") / count(lit(1)).cast("double"))
        .as("cx"))
      .filter(col("cx") <= lit(maxXent))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("keep"))
    val arr = graft.functions.wordChunks(col("text"), chunk, chunk)
    base.join(keptPos, Seq("doc_id"), "left")
      .withColumn("keep",
        coalesce(col("keep"), array().cast("array<long>")))
      .select(col("doc_id"),
        size(arr).cast("long").as("n_chunks"),
        size(col("keep")).cast("long").as("n_kept"),
        array_join(transform(col("keep"),
          p => element_at(arr, p.cast("int") + lit(1))), " ")
          .as("clean_text"))
      .orderBy("doc_id")
  }

  /** q218 entry: 8-token passages, surprisal bar 3.45 nats. */
  def q218PassageFilter(spark: SparkSession, dir: String): DataFrame =
    passageFilterRebuild(t(spark, dir, "documents"))

  /** One class of a COLLECTED naive-Bayes model (see [[naiveBayesFit]]):
    * smoothed per-token log-probabilities for the fitted (top-V)
    * vocabulary, the class log-prior, and `floor` — the log-probability
    * applied to every token OUTSIDE the fitted map. With the vocabulary
    * cap unbound the floor is the Laplace smoothing ln(1/(tot+V)); with
    * it bound the floor is the class's OOV-bucket probability
    * ln((oovCnt+1)/(tot+V)) — the unbound case is just oovCnt = 0. */
  case class NbClassModel(name: String, logPrior: Double, floor: Double,
                          logp: Map[String, Double])

  /** Fit the q211 naive-Bayes model and COLLECT it — the fitted-model
    * path (q202 BPE / q92 codebook precedent) that turns scoring into a
    * pure stateless projection: usable on a structured STREAM (no
    * stream-side aggregation, no watermark) and on batch frames without
    * the grid join. The driver collect is ENFORCED ≤ maxVocab·|classes|
    * rows: only the top-`maxVocab` tokens by corpus frequency (count
    * desc, token asc) are collected, the tail's per-class mass folds
    * into each class's `floor` as the OOV bucket — same contract as
    * [[naiveBayesScores]], so a crawl-scale vocabulary can never reach
    * the driver. For vocabularies past literal-map scale the q139
    * lesson applies — swap the map literal for a VocabEncode-style
    * fitted expression, the fit side is unchanged. */
  def naiveBayesFit(docs: DataFrame, textCol: String = "text",
                    classCol: String = "lang",
                    maxVocab: Int = DefaultMaxVocab): Seq[NbClassModel] = {
    require(maxVocab > 0, s"maxVocab must be positive, got $maxVocab")
    val toks = docs.select(col(classCol).as("clazz"),
      explode(graft.functions.wordTokens(col(textCol))).as("tok"))
    val rawCnt = toks.groupBy(col("clazz"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val topV = rawCnt.groupBy(col("tok")).agg(sum(col("cnt")).as("tf"))
      .orderBy(col("tf").desc, col("tok").asc)
      .limit(maxVocab)
      .select(col("tok"), lit(true).as("in_v"))
    // in-vocab and OOV-tail counts, both bounded: ≤ V·|classes| rows
    // collected, the tail reduced to one count per class
    val mapped = rawCnt.join(broadcast(topV), Seq("tok"), "left")
    val cnt = mapped.filter(col("in_v"))
      .select(col("clazz"), col("tok"), col("cnt"))
    val oov = mapped.filter(col("in_v").isNull)
      .groupBy(col("clazz")).agg(sum(col("cnt")).as("oov"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val collected = cnt.collect()
    // model vocabulary size: fitted types + the OOV bucket iff it holds
    // mass (unbound cap → identical to the uncapped Laplace denominator);
    // derived from the already-collected rows — a distinct().count()
    // here would re-execute the whole fit subtree as an extra job
    val vFitted = collected.iterator.map(_.getString(1)).toSet.size.toLong
    val v = vFitted + (if (oov.nonEmpty) 1L else 0L)
    val nTotal = docs.count()
    val classRows = docs.groupBy(col(classCol).as("clazz"))
      .agg(count(lit(1)).as("n_docs")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = rawCnt.groupBy(col("clazz")).agg(sum(col("cnt")).as("tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val byClass = collected
      .groupBy(_.getString(0))
    classRows.keys.toSeq.sorted.map { c =>
      val den = tot.getOrElse(c, 0L) + v
      NbClassModel(c,
        math.log(classRows(c).toDouble / nTotal),
        math.log((oov.getOrElse(c, 0L) + 1.0) / den),
        byClass.getOrElse(c, Array.empty)
          .map(r => r.getString(1) ->
            math.log((r.getLong(2) + 1.0) / den)).toMap)
    }
  }

  /** Prediction column from a collected model: per class, log-prior +
    * a sequential fold over the token array (deterministic order), with
    * the class floor (OOV-bucket probability; plain Laplace floor when
    * the vocab cap was unbound) for out-of-map tokens; argmax via the same
    * min(struct(-score, class)) tie-break as [[naiveBayesClassify]].
    * Pure projection — streaming-safe, zero shuffle, zero joins. */
  def nbPredictColumn(model: Seq[NbClassModel], tokens: Column): Column = {
    val scored = model.sortBy(_.name).map { c =>
      val m = typedLit(c.logp)
      val score = lit(c.logPrior) + aggregate(tokens, lit(0.0),
        (acc, t) => acc + coalesce(element_at(m, t), lit(c.floor)))
      struct((-score).as("ns"), lit(c.name).as("c"))
    }
    array_min(array(scored: _*)).getField("c")
  }

  // --------------------------------------------------------------- q142
  /** SemDeDup semantic pruning over the embedding corpus: √n-cell
    * spherical k-means, within-cell cosine ≥ 0.3 groups, min-id
    * survivors ([[Similarity.semDedup]]). Raw cells/groups are
    * codebook-dependent (float summation order), so the registered form
    * is the planted envelope: a ×1.5-scaled copy of each of the first
    * 20 vectors lands in ITS ORIGINAL'S cell deterministically (cosine
    * assignment is scale-invariant, ties break on cent_id), verifies at
    * cosine 1.0 ≥ the threshold, and must therefore be (a) grouped with
    * its original and (b) pruned — keep=false, since its group holds the
    * smaller original id. Both booleans are TRUE deterministically at
    * any SF; SimilaritySpec still pins full survivor semantics against
    * a brute-force recompute, and the raw run is what the bench times
    * ([[q142SemDedupRaw]]). */
  def q142SemDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val off = 1000000L
    val out = Similarity.semDedup(
      Similarity.plantScaledDups(emb, "vec_id", "embedding"),
      "vec_id", "embedding", threshold = 0.3)
    val planted = out.filter(col("id") >= off)
      .select((col("id") - off).as("orig_id"),
        col("group_id").as("planted_group"), col("keep"))
    val originals = out.filter(col("id") < 20)
      .select(col("id").as("orig_id"), col("group_id").as("orig_group"))
    emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + off).as("planted_id"),
        col("vec_id").as("orig_id"))
      .join(planted, Seq("orig_id"), "left")
      .join(originals, Seq("orig_id"), "left")
      .select(col("planted_id"),
        (!coalesce(col("keep"), lit(true))).as("pruned_ok"),
        (col("planted_group") === col("orig_group")).as("grouped_ok"))
      .orderBy("planted_id")
  }

  /** q142's BENCH form: the raw SemDeDup run (production shape). */
  def q142SemDedupRaw(spark: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(t(spark, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.3)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")

  // --------------------------------------------------------------- q148
  /** Unigram cross-entropy scoring: each document's mean −ln p(token)
    * under the corpus's OWN unigram distribution — the cheap stand-in for
    * LM-perplexity quality filtering (CCNet-style): low surprisal ≈
    * boilerplate-common wording, high ≈ rare-token/noisy text. Differs
    * from q141 (DSIR) which weighs ACROSS two corpora; this is one
    * corpus against itself.
    *
    * Scale shape: one tokenize pass; (token, count) aggregates combine
    * map-side; the token-frequency table joins back on the token key —
    * the same shuffle any df-weighted text op pays (q101/q64) — and the
    * per-document mean folds from decimal-rounded per-token surprisals
    * (order-free Σ, ln ulp differences absorbed; q134's pattern). */
  def unigramSurprisal(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(graft.functions.wordTokens(col(textCol))).as("tok"))
    val cnt = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("n_total"))
    val surp = cnt.crossJoin(broadcast(tot))
      .select(col("tok"),
        (-log(col("c").cast("double") / col("n_total").cast("double")))
          .cast("decimal(28,12)").as("s"))
    tok.join(surp, "tok")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("s")).cast("double") /
          count(lit(1)).cast("double"), 6).as("xent"))
  }

  /** q148 entry: per-document unigram cross-entropy over `documents`. */
  def q148UnigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    unigramSurprisal(t(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  // --------------------------------------------------------------- q151
  /** Token-budget corpus selection: rank documents by a quality score
    * (type-token ratio here) and keep the best until a global token
    * budget is exhausted — the "choose the best B tokens" step that cuts
    * a filtered crawl down to a training mix's allocation.
    *
    * Scale shape: the textbook form is a cumulative-sum window over the
    * GLOBAL (score desc, id) order — a total sort of the corpus. Instead
    * the score axis is pre-bucketed (floor(score·40): bins nest the
    * global order because floor is monotonic): per-bin token totals
    * (tiny) take a bounded-frame cumulative window, bins that fit whole
    * pass with NO per-doc ordering work, and only the single boundary
    * bin — ~1/40th of the corpus, and shrinking as bins refine — runs an
    * exact within-bin cumulative window to split at the budget point.
    * Integer token counts make the running sums bit-stable; the ttr
    * score rounds to 6 dp (int/int division, identical both engines). */
  def tokenBudgetSelect(docs: DataFrame, idCol: String, textCol: String,
                        budget: Long, bins: Int = 40): DataFrame = {
    val scored = docs.select(col(idCol),
        size(graft.functions.wordTokens(col(textCol))).cast("long")
          .as("n_tokens"),
        size(graft.functions.wordNgrams(col(textCol), 1)).cast("long")
          .as("n_distinct"))
      .filter(col("n_tokens") > 0)
      .withColumn("score",
        round(col("n_distinct").cast("double") /
          col("n_tokens").cast("double"), 6))
      .withColumn("bin", floor(col("score") * bins).cast("long"))
    val binTotals = scored.groupBy(col("bin"))
      .agg(sum(col("n_tokens")).as("bin_tokens"))
    // bounded frame: |bins| rows, never documents
    val wBins = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val binCum = binTotals.withColumn("cum_before",
      coalesce(sum(col("bin_tokens")).over(wBins), lit(0L)))
    val joined = scored.join(broadcast(binCum), "bin")
    val fullKeep = joined
      .filter(col("cum_before") + col("bin_tokens") <= budget)
    // within-bin resolution only for the ONE bin straddling the budget
    val wIn = Window.partitionBy(col("bin"))
      .orderBy(col("score").desc, col(idCol))
    val boundary = joined
      .filter(col("cum_before") < budget &&
        col("cum_before") + col("bin_tokens") > budget)
      .withColumn("run", sum(col("n_tokens")).over(wIn))
      .filter(col("cum_before") + col("run") <= budget)
      .drop("run")
    fullKeep.unionByName(boundary)
      .select(col(idCol), col("score"), col("n_tokens"))
  }

  /** q151 entry: best-ttr documents within an 8k-token budget. */
  def q151TokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetSelect(t(spark, dir, "documents"), "doc_id", "text", 8000L)
      .orderBy("doc_id")

  // --------------------------------------------------------------- q171
  /** Interpolated bigram cross-entropy: each document's mean
    * −ln(λ·p(tᵢ|tᵢ₋₁) + (1−λ)·p(tᵢ)) under the corpus's own counts — the
    * conditional-probability upgrade of [[unigramSurprisal]] (q148) and
    * the closest SQL-exact stand-in for the KenLM-perplexity filters
    * CCNet-style pipelines gate on: a document whose word PAIRS are
    * corpus-typical scores low even when its individual words are
    * common, so word-salad spam separates from prose q148 can't split.
    * The unigram interpolation floors unseen-context mass the way
    * Jelinek-Mercer smoothing does, so no position hits −ln 0.
    *
    * Scale shape: bigrams come from the fused [[graft.functions
    * .WordNgrams]] expression in per-occurrence mode (one pass, no
    * distinct); the model is two (key, count) aggregates with map-side
    * combine; scoring rejoins on the bigram / previous-token / current-
    * token keys — three df-weighted text-op shuffles (q148 pays one),
    * shipping (key, count) pairs, never text. Per-position surprisals
    * round to DECIMAL(28,12) before the per-doc Σ (order-free, exact —
    * q148's recipe), and the interpolation is the SAME fixed-order
    * λ·a + (1−λ)·b expression in both engines. */
  def bigramCrossEntropy(docs: DataFrame, idCol: String, textCol: String,
                         lambda: Double = 0.7): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(graft.functions.wordTokens(col(textCol))).as("tok"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val tot = uni.agg(sum(col("c1")).as("n_total"))
    val grams = docs.select(col(idCol),
        explode(graft.functions.wordNgrams(col(textCol), 2,
          distinct = false)).as("g"))
      .withColumn("prev", split(col("g"), " ").getItem(0))
      .withColumn("cur", split(col("g"), " ").getItem(1))
    val big = grams.groupBy(col("g")).agg(count(lit(1)).as("c2"))
    val cPrev = uni.select(col("tok").as("prev"), col("c1").as("c_prev"))
    val cCur = uni.select(col("tok").as("cur"), col("c1").as("c_cur"))
    grams.join(big, "g")
      .join(cPrev, "prev")
      .join(cCur, "cur")
      .crossJoin(broadcast(tot))
      .withColumn("p",
        lit(lambda) * (col("c2").cast("double") /
          col("c_prev").cast("double")) +
        lit(1.0 - lambda) * (col("c_cur").cast("double") /
          col("n_total").cast("double")))
      .withColumn("s", (-log(col("p"))).cast("decimal(28,12)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("s")).cast("double") /
          count(lit(1)).cast("double"), 6).as("xent"))
  }

  /** q171 entry: interpolated bigram cross-entropy over `documents`
    * (λ=0.7); single-token documents have no bigram and drop, exactly
    * as the oracle's gram unnest does. */
  def q171BigramXent(spark: SparkSession, dir: String): DataFrame =
    bigramCrossEntropy(t(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  // --------------------------------------------------------------- q172
  /** ANN recall audit: for a query sample, the fraction of the EXACT
    * cosine top-k that each approximate index actually returned — the
    * eval every ANN deployment needs before it replaces a brute-force
    * scan ("we made it 40× cheaper" means nothing without "at 0.9
    * recall"). Audits BOTH index families side by side — the banded
    * sign-LSH table (auto-sized at `designSim`, [[Similarity
    * .lshAutoSize]]) and the stride-IVF cells ([[Similarity.ivfTopK]]) —
    * because which one wins depends on the corpus's similarity regime:
    * sign-LSH needs many bands where true neighbors sit at low cosine,
    * IVF degrades where cluster structure is weak. Per-query hit
    * counts, not just a corpus mean, so tail queries (sparse buckets /
    * wrong-cell assignments) stay visible.
    *
    * Scale shape: the exact side IS the audit's cost, which is why it
    * runs on a bounded query SAMPLE (the production pattern: audit on a
    * sample, serve with the index); all sides broadcast the same query
    * set and the hit join ships (query_id, neighbor_id) pairs only.
    * Hash-seeded LSH / data-dependent centroids ⇒ rows-only; the
    * recall floors are spec-pinned. */
  /** Per-query recall of an approximate result set against the exact
    * one: left-join the exact top-k onto the approximate picks and count
    * hits — queries the index failed entirely still appear (recall 0). */
  def recallVsExact(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall",
        round(col("n_hits").cast("double") / col("k_exact"), 6))

  def annRecallAudit(corpus: DataFrame, queries: DataFrame, idCol: String,
                     embCol: String, dim: Int, k: Int,
                     designSim: Double = 0.3): DataFrame = {
    val (b, bits) = Similarity.lshAutoSize(corpus.count(), designSim)
    val exact = Similarity.bruteForceTopK(corpus, queries, idCol, embCol, k)
    val lsh = Similarity.lshTopK(corpus, queries, idCol, embCol, dim, k,
      b, bits)
    val ivf = Similarity.ivfTopK(corpus, queries, idCol, embCol, k)
    recallVsExact(exact, lsh).withColumn("index", lit("lsh"))
      .unionByName(
        recallVsExact(exact, ivf).withColumn("index", lit("ivf")))
  }

  /** q172 entry: recall@10 of the auto-sized sign-LSH index AND the
    * stride-IVF index on a 20-query sample of the embeddings table,
    * registered as the per-index envelope form: exact-side k pinned
    * value-exact, mean recall vs a per-index floor (LSH 0.4 — spec pins
    * ≥0.8 mean; IVF 0.05 — the audit's point is SHOWING the weak-regime
    * number, so its floor only claims better-than-nothing). The raw
    * per-query recalls stay available via [[annRecallAudit]]. */
  def q172AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val audit = annRecallAudit(emb, emb.filter(col("vec_id") < 20),
      "vec_id", "embedding", dim = 64, k = 10)
    val byIndex = Window.partitionBy(col("index"))
    audit
      .withColumn("recall_ok",
        avg(col("recall")).over(byIndex) >=
          when(col("index") === "lsh", lit(0.4)).otherwise(lit(0.05)))
      .select(col("index"), col("query_id"), col("k_exact"),
        col("recall_ok"))
      .orderBy("index", "query_id")
  }

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q171_bigram_xent" -> q171BigramXent _,
    "q172_ann_recall" -> q172AnnRecall _,
    "q148_unigram_surprisal" -> q148UnigramSurprisal _,
    "q151_token_budget" -> q151TokenBudget _,
    "q33_dedup_ngram_jaccard" -> q33DedupNgramJaccard _,
    "q123_incremental_dedup" -> q123IncrementalDedup _,
    "q49_minhash_native" -> q49MinhashNative _,
    "q34_dedup_simhash" -> q34DedupSimhash _,
    "q35_embedding_neardup" -> q35EmbeddingNeardup _,
    "q36_lang_id" -> q36LangId _,
    "q37_quality_score" -> q37QualityScore _,
    "q38_token_count" -> q38TokenCount _,
    "q39_fingerprint" -> q39Fingerprint _,
    "q40_ann_ivf" -> q40AnnIvf _,
    "q203_ann_sharded_ivf" -> q203AnnShardedIvf _,
    "q41_ann_lsh" -> q41AnnLsh _,
    "q166_hard_negatives" -> q166HardNegatives _,
    "q92_kmeans_cells" -> q92KmeansCells _,
    "q97_fuzzy_name_pairs" -> q97FuzzyNamePairs _,
    "q42_multimodal_stub" -> q42MultimodalStub _,
    "q228_audio_features" -> q228AudioFeatures _,
    "q234_image_stats" -> q234ImageStats _,
    "q235_image_blockhash" -> q235ImageBlockhash _,
    "q236_image_neardup" -> q236ImageNeardup _,
    "q75_ann_quantized" -> q75AnnQuantized _,
    "q127_trigram_search" -> q127TrigramSearch _,
    "q129_passage_containment" -> q129PassageContainment _,
    "q131_bm25_retrieval" -> q131Bm25Retrieval _,
    "q205_hybrid_rrf" -> q205HybridRrf _,
    "q135_boilerplate_passages" -> q135BoilerplatePassages _,
    "q207_duplicated_spans" -> q207DuplicatedSpans _,
    "q208_winnow_pairs" -> q208WinnowPairs _,
    "q209_chunk_dedup_rebuild" -> q209ChunkDedupRebuild _,
    "q221_ngram_novelty" -> q221NgramNovelty _,
    "q227_prefix_cache_share" -> q227PrefixCacheShare _,
    "q210_retrieval_eval" -> q210RetrievalEval _,
    "q211_naive_bayes" -> q211NaiveBayes _,
    "q213_classifier_auc" -> q213ClassifierAuc _,
    "q214_rag_context_pack" -> q214RagContextPack _,
    "q216_matryoshka_audit" -> q216MatryoshkaAudit _,
    "q217_curriculum_bands" -> q217CurriculumBands _,
    "q218_passage_filter" -> q218PassageFilter _,
    "q215_int8_calibration" -> ((s: SparkSession, dir: String) =>
      Similarity.int8Calibration(t(s, dir, "embeddings"),
        "vec_id", "embedding")),
    "q142_semdedup" -> q142SemDedup _)

  /** Oracles for the exact, SQL-expressible subset. */
  /** Bench-form overrides (see [[graft.SparkEntry.benchForm]]): the ANN
    * queries' registered forms carry the brute-force exact side so the
    * oracle can check a recall envelope; the bench times the index probe
    * alone — the production shape whose cost the index exists to have. */
  val benchForm: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_ann_ivf" -> q40AnnIvfProbe _,
    "q203_ann_sharded_ivf" -> q203AnnShardedIvfProbe _,
    "q41_ann_lsh" -> q41AnnLshProbe _,
    "q75_ann_quantized" -> q75AnnQuantizedProbe _,
    // near-dup family: the oracle-registered forms are planted-pair
    // recall envelopes; the bench times the production pair scans
    "q34_dedup_simhash" -> q34DedupSimhashPairs _,
    "q35_embedding_neardup" -> q35EmbeddingNeardupPairs _,
    "q49_minhash_native" -> q49MinhashNativePairs _,
    "q166_hard_negatives" -> q166HardNegativesMine _,
    // trained-model envelopes: the bench times the raw production runs
    "q92_kmeans_cells" -> q92KmeansCellSizes _,
    "q142_semdedup" -> q142SemDedupRaw _)

  val oracle: Map[String, String] = Map(
    // q92: cent_ids pinned as rows; the partition claim (cluster sizes
    // sum to the corpus count exactly) is the TRUE boolean — raw sizes
    // are codebook-float-order dependent and stay spec/bench-side
    "q92_kmeans_cells" ->
      """SELECT r.range AS cent_id, TRUE AS partition_ok
        |FROM range(0, 16) r ORDER BY cent_id""".stripMargin,
    // q142: planted scaled dups must be grouped with and pruned in
    // favor of their originals — deterministic (cosine assignment is
    // scale-invariant), verified at both gate scales
    "q142_semdedup" ->
      """SELECT vec_id + 1000000 AS planted_id, TRUE AS pruned_ok,
        |       TRUE AS grouped_ok
        |FROM embeddings WHERE vec_id < 20 ORDER BY planted_id""".stripMargin,
    // q234: the closed-form gradient pattern replayed pixel-for-pixel —
    // the engine side went through the REAL BMP parse; value-exact
    "q234_image_stats" ->
      """WITH ids AS (SELECT doc_id AS asset_id FROM documents
        |             WHERE doc_id < 500),
        |v AS (SELECT asset_id,
        |  ((1 + (asset_id + 0) % 7) * tx.x + (1 + (asset_id * 3 + 0) % 5)
        |    * ty.y + (asset_id * 7 + 0) % 97) % 180 AS r,
        |  ((1 + (asset_id + 1) % 7) * tx.x + (1 + (asset_id * 3 + 1) % 5)
        |    * ty.y + (asset_id * 7 + 31) % 97) % 180 AS g,
        |  ((1 + (asset_id + 2) % 7) * tx.x + (1 + (asset_id * 3 + 2) % 5)
        |    * ty.y + (asset_id * 7 + 62) % 97) % 180 AS b
        |  FROM ids, range(0, 32) tx(x), range(0, 32) ty(y))
        |SELECT asset_id, CAST(32 AS INTEGER) AS width,
        |       CAST(32 AS INTEGER) AS height,
        |       CAST(SUM(r) AS BIGINT) AS r_sum,
        |       CAST(SUM(g) AS BIGINT) AS g_sum,
        |       CAST(SUM(b) AS BIGINT) AS b_sum,
        |       CAST(MIN(r) AS BIGINT) AS r_min,
        |       CAST(MAX(r) AS BIGINT) AS r_max,
        |       CAST(MIN(g) AS BIGINT) AS g_min,
        |       CAST(MAX(g) AS BIGINT) AS g_max,
        |       CAST(MIN(b) AS BIGINT) AS b_min,
        |       CAST(MAX(b) AS BIGINT) AS b_max,
        |       CAST(SUM(299 * r + 587 * g + 114 * b) AS BIGINT)
        |         AS luma_sum
        |FROM v GROUP BY 1 ORDER BY asset_id""".stripMargin,
    // q235: the blockhash's integer compare (bs·64 > total) replayed
    // exactly; 32-bit halves avoid signed-overflow games in BIGINT
    "q235_image_blockhash" ->
      """WITH ids AS (SELECT doc_id AS asset_id FROM documents
        |             WHERE doc_id < 500),
        |v AS (SELECT asset_id, tx.x AS x, ty.y AS y,
        |  ((1 + (asset_id + 0) % 7) * tx.x + (1 + (asset_id * 3 + 0) % 5)
        |    * ty.y + (asset_id * 7 + 0) % 97) % 180 AS r,
        |  ((1 + (asset_id + 1) % 7) * tx.x + (1 + (asset_id * 3 + 1) % 5)
        |    * ty.y + (asset_id * 7 + 31) % 97) % 180 AS g,
        |  ((1 + (asset_id + 2) % 7) * tx.x + (1 + (asset_id * 3 + 2) % 5)
        |    * ty.y + (asset_id * 7 + 62) % 97) % 180 AS b
        |  FROM ids, range(0, 32) tx(x), range(0, 32) ty(y)),
        |bl AS (SELECT asset_id, (y // 4) * 8 + (x // 4) AS k,
        |              SUM(299 * r + 587 * g + 114 * b) AS bs
        |       FROM v GROUP BY 1, 2),
        |tot AS (SELECT asset_id, SUM(bs) AS ts FROM bl GROUP BY 1)
        |SELECT bl.asset_id, CAST(3126 AS BIGINT) AS n_bytes,
        |       CAST(SUM(CASE WHEN k >= 32 AND bs * 64 > ts
        |                THEN CAST(1 AS BIGINT) << CAST(k - 32 AS INTEGER)
        |                ELSE 0 END) AS BIGINT) AS bits_hi,
        |       CAST(SUM(CASE WHEN k < 32 AND bs * 64 > ts
        |                THEN CAST(1 AS BIGINT) << CAST(k AS INTEGER)
        |                ELSE 0 END) AS BIGINT) AS bits_lo
        |FROM bl JOIN tot USING (asset_id)
        |GROUP BY 1 ORDER BY asset_id""".stripMargin,
    // q236: planted-pair envelope — brightness-shifted plants hash
    // identically (deterministic), floor 0.9
    "q236_image_neardup" ->
      Dedup.plantedEnvelopeOracle("documents", "doc_id"),
    // q34/q35/q49: planted-pair recall envelopes (q40's pattern applied
    // to the near-dup family) — rows pinned to the planted id set, the
    // measured-floor recall boolean is the cross-engine claim
    "q34_dedup_simhash" ->
      Dedup.plantedEnvelopeOracle("documents", "doc_id"),
    "q49_minhash_native" ->
      Dedup.plantedEnvelopeOracle("documents", "doc_id"),
    "q35_embedding_neardup" ->
      Dedup.plantedEnvelopeOracle("embeddings", "vec_id"),
    // q166: per-anchor dup-exclusion (deterministic: the planted scaled
    // copy sits at cosine 1.0, above the maxSim cut) + planted-negative
    // recall over the measured floor
    "q166_hard_negatives" ->
      """SELECT vec_id AS query_id, TRUE AS dup_excluded,
        |       TRUE AS negative_recall_ok
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin,
    // q40/q41/q75/q203: ANN recall-envelope forms (q27/q93 pattern) —
    // the exact-side k pins value-exact (brute force returns exactly 5
    // rows per query wherever the corpus holds ≥5 candidates) and the
    // mean-recall-over-floor boolean is the in-engine claim the oracle
    // expects TRUE; raw neighbor ids stay engine-specific by design.
    "q40_ann_ivf" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k_exact,
        |       TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,
    "q203_ann_sharded_ivf" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k_exact,
        |       TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,
    "q41_ann_lsh" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k_exact,
        |       TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,
    "q75_ann_quantized" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k_exact,
        |       TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""".stripMargin,
    // q172: both index families audited per query; k_exact pinned at 10,
    // per-index mean-recall floors (lsh 0.4 / ivf 0.05) in-engine
    "q172_ann_recall" ->
      """SELECT idx."index", e.vec_id AS query_id,
        |       CAST(10 AS BIGINT) AS k_exact, TRUE AS recall_ok
        |FROM embeddings e
        |CROSS JOIN (SELECT 'lsh' AS "index"
        |            UNION ALL SELECT 'ivf' AS "index") idx
        |WHERE e.vec_id < 20
        |ORDER BY idx."index", query_id""".stripMargin,
    // q207: engine joins on xxhash64(window), oracle on the window text
    // (q63's precedent — counts identical barring 64-bit collisions);
    // range(1, len-14) generates every full-window start (stride 1)
    "q207_duplicated_spans" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 14),
        |         p -> array_to_string(tk[p:p+15], ' '))) AS win
        |  FROM toks WHERE len(tk) >= 16),
        |c AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) >= 2),
        |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_windows
        |      FROM w JOIN c USING (win) GROUP BY doc_id),
        |n AS (SELECT doc_id,
        |             CAST(len(tk) - 15 AS BIGINT) AS n_windows
        |      FROM toks WHERE len(tk) >= 16)
        |SELECT n.doc_id, n.n_windows, d.dup_windows,
        |       round(CAST(d.dup_windows AS DOUBLE) / n.n_windows, 6)
        |         AS dup_share
        |FROM n JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin,
    // q208: the winnowing selection replayed value-for-value — the
    // 13-hex-char md5 prefix is fixed-width lowercase hex, so DuckDB's
    // list_min over VARCHAR picks the same hash the engine's array_min
    // does; shingle semantics mirror WordNgrams(distinct=false)
    // including the fewer-than-k-tokens → one-shingle-of-all edge
    "q208_winnow_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |hs AS (
        |  SELECT doc_id, list_transform(
        |           list_transform(range(1, greatest(len(tk) - 3, 1) + 1),
        |              i -> array_to_string(tk[i:i+3], ' ')),
        |           g -> substr(md5(g), 1, 13)) AS hs
        |  FROM toks WHERE len(tk) > 0),
        |fp AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           range(1, greatest(len(hs) - 3, 1) + 1),
        |           i -> list_min(hs[i:i+3])))) AS fp
        |  FROM hs),
        |kept AS (SELECT fp FROM fp GROUP BY fp
        |         HAVING COUNT(*) BETWEEN 2 AND 50),
        |f2 AS (SELECT f.doc_id, f.fp FROM fp f JOIN kept USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(COUNT(*) AS BIGINT) AS shared_fps
        |FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q209: the CCNet rebuild replayed on the passage TEXT (engine keys
    // on xxhash64 — q63/q135 collision precedent); first occurrence =
    // row_number over (doc_id, pos); chunk index (s-1)/8 matches the
    // engine's 0-based posexplode; string_agg ORDER BY pos rebuilds the
    // identical space-joined clean text
    "q209_chunk_dedup_rebuild" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents WHERE len(list_filter(
        |    string_split_regex(lower(text), '\W+'), t -> len(t) > 0)) > 0),
        |ch AS (
        |  SELECT doc_id, unnest(range(1, len(tk) + 1, 8)) AS s, tk
        |  FROM toks),
        |ch2 AS (
        |  SELECT doc_id, CAST((s - 1) / 8 AS BIGINT) AS pos,
        |         array_to_string(tk[s:s+7], ' ') AS passage
        |  FROM ch),
        |kept AS (
        |  SELECT doc_id, pos, passage FROM (
        |    SELECT doc_id, pos, passage,
        |           row_number() OVER (PARTITION BY passage
        |                              ORDER BY doc_id, pos) AS rn
        |    FROM ch2) WHERE rn = 1),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |         string_agg(passage, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |n AS (SELECT doc_id,
        |             CAST(len(range(1, len(tk) + 1, 8)) AS BIGINT)
        |               AS n_chunks
        |      FROM toks)
        |SELECT n.doc_id, n.n_chunks,
        |       COALESCE(a.n_kept, 0) AS n_kept,
        |       COALESCE(a.clean_text, '') AS clean_text
        |FROM n LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,
    // q210: q131's BM25 arithmetic tree verbatim (decimal-exact sums →
    // bit-equal doubles), batched over the probe set; parent_rank is the
    // same better-than count the engine aggregates — no window over the
    // corpus on either side
    "q210_retrieval_eval" ->
      """WITH tk AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |pr AS (
        |  SELECT doc_id AS probe_id, unnest(list_distinct(tk[5:12])) AS tok
        |  FROM tk
        |  WHERE substr(md5(text), 1, 2) IN ('00', '01', '02', '03')
        |    AND len(tk) >= 12),
        |tf AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tok,
        |         COUNT(*) AS tf
        |  FROM (SELECT doc_id, tk, unnest(tk) AS tok FROM tk)
        |  WHERE tok IN (SELECT DISTINCT tok FROM pr)
        |  GROUP BY doc_id, len(tk), tok),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs,
        |         CAST(SUM(len(tk)) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM tk),
        |dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok,
        |         ln(CAST(stats.n_docs - dft.df + 0.5 AS DOUBLE) /
        |            CAST(dft.df + 0.5 AS DOUBLE) + 1.0)
        |           * (tf.tf * 2.25) /
        |           (tf.tf + 1.25 *
        |             (0.25 + CAST(0.75 * tf.dl AS DOUBLE) / stats.avgdl))
        |           AS s
        |  FROM tf JOIN dft ON tf.tok = dft.tok CROSS JOIN stats),
        |ps AS (
        |  SELECT q.probe_id, s.doc_id,
        |         CAST(SUM(CAST(s.s AS DECIMAL(28,12))) AS DOUBLE) AS score
        |  FROM scored s JOIN pr q ON s.tok = q.tok
        |  GROUP BY q.probe_id, s.doc_id),
        |par AS (SELECT probe_id, score AS pscore
        |        FROM ps WHERE doc_id = probe_id),
        |r AS (
        |  SELECT ps.probe_id, CAST(COUNT(*) AS BIGINT) AS n_cand,
        |         CAST(1 + SUM(CASE WHEN ps.score > par.pscore OR
        |                (ps.score = par.pscore AND ps.doc_id < ps.probe_id)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS parent_rank
        |  FROM ps JOIN par USING (probe_id) GROUP BY ps.probe_id)
        |SELECT probe_id, n_cand, parent_rank,
        |       CAST(CASE WHEN parent_rank <= 10 THEN 1 ELSE 0 END
        |            AS BIGINT) AS hit10,
        |       CASE WHEN parent_rank <= 10
        |            THEN CAST(1.0 AS DOUBLE) / parent_rank
        |            ELSE CAST(0.0 AS DOUBLE) END AS rr10
        |FROM r ORDER BY probe_id""".stripMargin,
    // q211: the naive-Bayes fit/score replayed — same Laplace tree, same
    // DECIMAL(28,12) log-likelihood sums, argmax as row_number (score
    // DESC, class ASC) ≡ the engine's min(struct(-score, class)).
    // CONTRACT: this oracle replays the UNCAPPED arithmetic, valid while
    // the corpus vocabulary fits maxVocab (65536 — orders of magnitude
    // above any gate-scale fixture's vocabulary; CorpusSpec pins the
    // bound/unbound equivalence and the capped OOV-bucket arithmetic).
    // A corpus past the cap diverges from THIS SQL by design — regenerate
    // the oracle with the top-V + OOV grouping if the gate ever runs one.
    "q211_naive_bayes" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |         unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                t -> len(t) > 0)) AS tok
        |  FROM documents),
        |cnt AS (SELECT lang AS clazz, tok, COUNT(*) AS cnt
        |        FROM tk GROUP BY 1, 2),
        |tot AS (SELECT clazz, CAST(SUM(cnt) AS BIGINT) AS tot
        |        FROM cnt GROUP BY 1),
        |vocab AS (SELECT DISTINCT tok FROM tk),
        |vs AS (SELECT COUNT(*) AS v FROM vocab),
        |cls AS (SELECT lang AS clazz, COUNT(*) AS n_docs
        |        FROM documents GROUP BY 1),
        |nt AS (SELECT COUNT(*) AS n_total FROM documents),
        |grid AS (
        |  SELECT c.clazz, vb.tok,
        |         ln((COALESCE(cnt.cnt, 0) + 1.0) / (tot.tot + vs.v))
        |           AS logp
        |  FROM vocab vb CROSS JOIN cls c
        |  LEFT JOIN cnt ON cnt.clazz = c.clazz AND cnt.tok = vb.tok
        |  JOIN tot ON tot.clazz = c.clazz CROSS JOIN vs),
        |pri AS (SELECT clazz, ln(CAST(n_docs AS DOUBLE) / n_total)
        |               AS logprior
        |        FROM cls CROSS JOIN nt),
        |sc AS (
        |  SELECT tk.doc_id, tk.lang AS truth, g.clazz,
        |         CAST(SUM(CAST(g.logp AS DECIMAL(28,12))) AS DOUBLE) AS ll
        |  FROM tk JOIN grid g ON tk.tok = g.tok GROUP BY 1, 2, 3),
        |fin AS (
        |  SELECT sc.doc_id, sc.truth, sc.clazz,
        |         sc.ll + p.logprior AS score
        |  FROM sc JOIN pri p USING (clazz)),
        |r AS (SELECT doc_id, truth, clazz,
        |             row_number() OVER (PARTITION BY doc_id
        |                                ORDER BY score DESC, clazz) AS rn
        |      FROM fin)
        |SELECT doc_id, truth AS lang, clazz AS pred,
        |       CAST(CASE WHEN truth = clazz THEN 1 ELSE 0 END AS BIGINT)
        |         AS correct
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // q213: q211's fit replayed, scored on the md5-sliced eval sample;
    // the rank-sum AUC runs on the ALL-INTEGER tie identity
    // 2·avg_rank = 2·rank_min + tie_count − 1 so only the final divide
    // is floating point — identical operands both engines
    "q213_classifier_auc" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, text,
        |         unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                t -> len(t) > 0)) AS tok
        |  FROM documents),
        |cnt AS (SELECT lang AS clazz, tok, COUNT(*) AS cnt
        |        FROM tk GROUP BY 1, 2),
        |tot AS (SELECT clazz, CAST(SUM(cnt) AS BIGINT) AS tot
        |        FROM cnt GROUP BY 1),
        |vocab AS (SELECT DISTINCT tok FROM tk),
        |vs AS (SELECT COUNT(*) AS v FROM vocab),
        |cls AS (SELECT lang AS clazz, COUNT(*) AS n_docs
        |        FROM documents GROUP BY 1),
        |nt AS (SELECT COUNT(*) AS n_total FROM documents),
        |grid AS (
        |  SELECT c.clazz, vb.tok,
        |         ln((COALESCE(cnt.cnt, 0) + 1.0) / (tot.tot + vs.v))
        |           AS logp
        |  FROM vocab vb CROSS JOIN cls c
        |  LEFT JOIN cnt ON cnt.clazz = c.clazz AND cnt.tok = vb.tok
        |  JOIN tot ON tot.clazz = c.clazz CROSS JOIN vs),
        |pri AS (SELECT clazz, ln(CAST(n_docs AS DOUBLE) / n_total)
        |               AS logprior
        |        FROM cls CROSS JOIN nt),
        |sc AS (
        |  SELECT e.doc_id, e.lang AS truth, g.clazz,
        |         CAST(SUM(CAST(g.logp AS DECIMAL(28,12))) AS DOUBLE) AS ll
        |  FROM tk e JOIN grid g ON e.tok = g.tok
        |  WHERE substr(md5(e.text), 1, 1) = '0'
        |  GROUP BY 1, 2, 3),
        |fin AS (
        |  SELECT sc.truth, sc.clazz, sc.ll + p.logprior AS score
        |  FROM sc JOIN pri p USING (clazz)),
        |rk AS (
        |  SELECT clazz, truth, score,
        |         CAST(rank() OVER (PARTITION BY clazz ORDER BY score)
        |              AS BIGINT) AS rnk,
        |         CAST(COUNT(*) OVER (PARTITION BY clazz, score)
        |              AS BIGINT) AS tc
        |  FROM fin),
        |agg AS (
        |  SELECT clazz,
        |         CAST(SUM(CASE WHEN truth = clazz THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_pos,
        |         CAST(COUNT(*) - SUM(CASE WHEN truth = clazz
        |                             THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_neg,
        |         CAST(SUM(CASE WHEN truth = clazz
        |                  THEN 2 * rnk + tc - 1 ELSE 0 END)
        |              AS BIGINT) AS num2
        |  FROM rk GROUP BY 1)
        |SELECT clazz AS lang, n_pos, n_neg,
        |       round(CAST(num2 - n_pos * (n_pos + 1) AS DOUBLE) /
        |             CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS auc
        |FROM agg WHERE n_pos > 0 AND n_neg > 0
        |ORDER BY lang""".stripMargin,
    // q214: q131's scored head + a rank-ordered cumulative token sum;
    // the prefix rule (keep while cum <= budget) replayed verbatim
    "q214_rag_context_pack" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tok,
        |         COUNT(*) AS tf
        |  FROM (SELECT doc_id, tk, unnest(tk) AS tok FROM tk)
        |  WHERE tok IN ('merge', 'batch', 'spark')
        |  GROUP BY doc_id, len(tk), tok),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs,
        |         CAST(SUM(len(tk)) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM tk),
        |dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT tf.doc_id,
        |         ln(CAST(stats.n_docs - dft.df + 0.5 AS DOUBLE) /
        |            CAST(dft.df + 0.5 AS DOUBLE) + 1.0)
        |           * (tf.tf * 2.25) /
        |           (tf.tf + 1.25 *
        |             (0.25 + CAST(0.75 * tf.dl AS DOUBLE) / stats.avgdl))
        |           AS s
        |  FROM tf JOIN dft ON tf.tok = dft.tok CROSS JOIN stats),
        |head AS (
        |  SELECT doc_id,
        |         CAST(SUM(CAST(s AS DECIMAL(28,12))) AS DOUBLE) AS score
        |  FROM scored GROUP BY doc_id
        |  ORDER BY score DESC, doc_id LIMIT 50),
        |packed AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h.score DESC, h.doc_id)
        |              AS BIGINT) AS rank,
        |         h.doc_id, CAST(len(tk.tk) AS BIGINT) AS n_tok,
        |         CAST(SUM(len(tk.tk)) OVER (ORDER BY h.score DESC, h.doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum_tok,
        |         h.score
        |  FROM head h JOIN tk USING (doc_id))
        |SELECT rank, doc_id, n_tok, cum_tok, round(score, 6) AS score
        |FROM packed WHERE cum_tok <= 512 ORDER BY rank""".stripMargin,
    // q215: exact float→double widening, min/max/scale/mse replayed with
    // the DECIMAL(28,12) squared-error sum — whole frame raw doubles,
    // hash-exact
    "q215_int8_calibration" ->
      """WITH el AS (
        |  SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |st AS (
        |  SELECT dim, MIN(v) AS vmin, MAX(v) AS vmax,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         greatest(abs(MIN(v)), abs(MAX(v))) / 127.0 AS scale
        |  FROM el GROUP BY dim),
        |err AS (
        |  SELECT el.dim,
        |         el.v - (CASE WHEN st.scale = 0.0 THEN 0.0
        |                 ELSE round(el.v / st.scale) END) * st.scale AS d
        |  FROM el JOIN st USING (dim))
        |SELECT st.dim, st.vmin, st.vmax, st.scale, st.n,
        |       CAST(SUM(CAST(err.d * err.d AS DECIMAL(28,12))) AS DOUBLE)
        |         / CAST(st.n AS DOUBLE) AS mse
        |FROM err JOIN st USING (dim)
        |GROUP BY st.dim, st.vmin, st.vmax, st.scale, st.n
        |ORDER BY st.dim""".stripMargin,
    // q216: both rankings replayed with q24's rounded-cosine recipe
    // (6-dp sim, id tiebreak); float→double widening commutes with the
    // prefix slice, so engine (slice-then-widen) ≡ oracle
    // (widen-then-slice) element-for-element
    "q216_matryoshka_audit" ->
      """WITH pr AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |            FROM embeddings
        |            WHERE vec_id % 50 = 0 AND vec_id < 2000),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |      FROM embeddings),
        |f10 AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |             ROUND(list_dot_product(q.e, c.e) /
        |               (SQRT(list_dot_product(q.e, q.e)) *
        |                SQRT(list_dot_product(c.e, c.e))), 6) DESC,
        |             c.vec_id) AS rn
        |    FROM pr q JOIN c ON c.vec_id <> q.vec_id) WHERE rn <= 10),
        |t10 AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |             ROUND(list_dot_product(q.e[1:32], c.e[1:32]) /
        |               (SQRT(list_dot_product(q.e[1:32], q.e[1:32])) *
        |                SQRT(list_dot_product(c.e[1:32], c.e[1:32]))), 6)
        |               DESC,
        |             c.vec_id) AS rn
        |    FROM pr q JOIN c ON c.vec_id <> q.vec_id) WHERE rn <= 10),
        |m AS (SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_match
        |      FROM f10 f JOIN t10 t
        |        ON f.query_id = t.query_id
        |       AND f.neighbor_id = t.neighbor_id
        |      GROUP BY 1)
        |SELECT p.vec_id AS query_id,
        |       COALESCE(m.n_match, 0) AS n_match,
        |       round(CAST(COALESCE(m.n_match, 0) AS DOUBLE) / 10.0, 6)
        |         AS overlap_at_k
        |FROM pr p LEFT JOIN m ON m.query_id = p.vec_id
        |ORDER BY query_id""".stripMargin,
    // q217: q148's xent replay, then pure band arithmetic over the
    // dozens-row band frame
    "q217_curriculum_bands" ->
      """WITH tok AS (
        |  SELECT doc_id, t.tok
        |  FROM documents,
        |       unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                          x -> len(x) > 0)) AS t(tok)),
        |cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cnt),
        |surp AS (
        |  SELECT tok,
        |         CAST(-ln(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE))
        |              AS DECIMAL(28,12)) AS s
        |  FROM cnt CROSS JOIN tot),
        |doc AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |         round(CAST(SUM(s) AS DOUBLE)
        |               / CAST(COUNT(*) AS DOUBLE), 6) AS xent
        |  FROM tok JOIN surp USING (tok) GROUP BY doc_id),
        |band AS (
        |  SELECT CAST(floor(xent * 100) AS BIGINT) AS band,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |  FROM doc GROUP BY 1)
        |SELECT band, n_docs, n_tokens,
        |       round(CAST(SUM(n_tokens) OVER (ORDER BY band
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               AS DOUBLE) /
        |             CAST(SUM(n_tokens) OVER () AS DOUBLE), 6)
        |         AS cum_token_share
        |FROM band ORDER BY band""".stripMargin,
    // q218: unigram surprisal (q148 tree) meaned per chunk, the ≤ bar
    // replayed on the identical decimal-summed mean, q209's rebuild
    "q218_passage_filter" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents WHERE len(list_filter(
        |    string_split_regex(lower(text), '\W+'), t -> len(t) > 0)) > 0),
        |cnt AS (
        |  SELECT t.tok, COUNT(*) AS c
        |  FROM toks, unnest(tk) AS t(tok) GROUP BY t.tok),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cnt),
        |surp AS (
        |  SELECT tok,
        |         CAST(-ln(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE))
        |              AS DECIMAL(28,12)) AS s
        |  FROM cnt CROSS JOIN tot),
        |ch AS (
        |  SELECT doc_id, unnest(range(1, len(tk) + 1, 8)) AS st, tk
        |  FROM toks),
        |ch2 AS (
        |  SELECT doc_id, CAST((st - 1) / 8 AS BIGINT) AS pos,
        |         array_to_string(tk[st:st+7], ' ') AS passage,
        |         unnest(tk[st:st+7]) AS tok
        |  FROM ch),
        |kept AS (
        |  SELECT doc_id, pos
        |  FROM ch2 JOIN surp USING (tok)
        |  GROUP BY doc_id, pos
        |  HAVING CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |         <= 3.45),
        |ptext AS (
        |  SELECT DISTINCT doc_id, CAST((st - 1) / 8 AS BIGINT) AS pos,
        |         array_to_string(tk[st:st+7], ' ') AS passage
        |  FROM ch),
        |agg AS (
        |  SELECT k.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |         string_agg(p.passage, ' ' ORDER BY k.pos) AS clean_text
        |  FROM kept k JOIN ptext p
        |    ON p.doc_id = k.doc_id AND p.pos = k.pos
        |  GROUP BY k.doc_id),
        |n AS (SELECT doc_id,
        |             CAST(len(range(1, len(tk) + 1, 8)) AS BIGINT)
        |               AS n_chunks
        |      FROM toks)
        |SELECT n.doc_id, n.n_chunks,
        |       COALESCE(a.n_kept, 0) AS n_kept,
        |       COALESCE(a.clean_text, '') AS clean_text
        |FROM n LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,
    // q39: the exact distinct 8-token-shingle count (same short-doc
    // whole-text-gram rule as the engine's WordNgrams) plus the
    // content-functionality boolean — equal texts must share a
    // fingerprint — which the oracle expects TRUE everywhere.
    "q39_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, COUNT(DISTINCT gram) AS n_shingles FROM (
        |    SELECT doc_id,
        |           unnest(list_filter(
        |             list_transform(range(1, greatest(len(tk) - 7, 1) + 1),
        |                  i -> array_to_string(tk[i:i+7], ' ')),
        |             g -> len(g) > 0)) AS gram
        |    FROM toks) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(g.n_shingles, 0) AS n_shingles,
        |       TRUE AS fp_consistent
        |FROM documents d LEFT JOIN grams g USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // q171: per-position surprisal rounds to DECIMAL(28,12) before the
    // per-doc mean (q148's recipe); the interpolation weight is written
    // (1.0 - 0.7) — NOT 0.3 — because the engine computes 1−λ in IEEE
    // doubles where 1.0−0.7 = 0.30000000000000004.
    "q171_bigram_xent" ->
      """WITH tok AS (
        |  SELECT doc_id, t.tok
        |  FROM documents,
        |       unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                          x -> len(x) > 0)) AS t(tok)),
        |uni AS (SELECT tok, COUNT(*) AS c1 FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_total FROM uni),
        |tkl AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     x -> len(x) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, tk[i] AS prev, tk[i+1] AS cur,
        |         tk[i] || ' ' || tk[i+1] AS g
        |  FROM tkl, unnest(range(1, greatest(len(tk), 1))) AS r(i)),
        |big AS (SELECT g, COUNT(*) AS c2 FROM grams GROUP BY g),
        |sc AS (
        |  SELECT doc_id,
        |         CAST(-ln(0.7 * (CAST(c2 AS DOUBLE)
        |                         / CAST(cp.c1 AS DOUBLE))
        |                  + (1.0 - 0.7) * (CAST(cc.c1 AS DOUBLE)
        |                                   / CAST(n_total AS DOUBLE)))
        |              AS DECIMAL(28,12)) AS s
        |  FROM grams
        |  JOIN big USING (g)
        |  JOIN uni cp ON cp.tok = grams.prev
        |  JOIN uni cc ON cc.tok = grams.cur
        |  CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |       round(CAST(SUM(s) AS DOUBLE)
        |             / CAST(COUNT(*) AS DOUBLE), 6) AS xent
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q148: per-token surprisal rounds to DECIMAL(28,12) before the
    // per-doc mean (order-free sum; ln ulp differences absorbed).
    "q148_unigram_surprisal" ->
      """WITH tok AS (
        |  SELECT doc_id, t.tok
        |  FROM documents,
        |       unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                          x -> len(x) > 0)) AS t(tok)),
        |cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cnt),
        |surp AS (
        |  SELECT tok,
        |         CAST(-ln(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE))
        |              AS DECIMAL(28,12)) AS s
        |  FROM cnt CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |       round(CAST(SUM(s) AS DOUBLE)
        |             / CAST(COUNT(*) AS DOUBLE), 6) AS xent
        |FROM tok JOIN surp USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q151: the oracle is the NAIVE global cumulative window the engine's
    // bin-bounded two-phase plan replaces — selection must be identical.
    "q151_token_budget" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(
        |           string_split_regex(lower(text), '\W+'),
        |           x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |         CAST(len(list_distinct(list_filter(
        |           string_split_regex(lower(text), '\W+'),
        |           x -> len(x) > 0))) AS BIGINT) AS n_distinct
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, n_tokens,
        |         round(CAST(n_distinct AS DOUBLE)
        |               / CAST(n_tokens AS DOUBLE), 6) AS score
        |  FROM s WHERE n_tokens > 0),
        |c AS (
        |  SELECT doc_id, score, n_tokens,
        |         SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS run
        |  FROM sc)
        |SELECT doc_id, score, n_tokens FROM c
        |WHERE run <= 8000 ORDER BY doc_id""".stripMargin,
    // q42: the stub decode (FNV-1a over 4 byte-stripes) is deterministic,
    // so the whole multimodal path — binary ingest schema, partition-
    // batched mapPartitions decode, typed feature projection — is
    // hash-verified byte-for-byte. DuckDB reproduces the fold with
    // HUGEINT modular arithmetic (BIGINT multiply would overflow-error,
    // not wrap); xor rides the low byte only, since the FNV xor operand
    // is a single ASCII byte. All stripe values are <2^24/2^24 — exactly
    // representable in FLOAT, so the float compare is bit-safe.
    "q42_multimodal_stub" ->
      """WITH f AS (
        |  SELECT doc_id AS asset_id, 'text/plain' AS media_type,
        |         CAST(len(text) AS BIGINT) AS n_bytes,
        |         [ list_reduce(
        |             list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |               list_transform(
        |                 list_filter(range(1, len(text)+1),
        |                             j -> (j-1)%4 = s),
        |                 j -> CAST(ord(text[j]) AS HUGEINT))),
        |             (acc, b) -> ((acc - acc%256 +
        |                 xor(CAST(acc%256 AS BIGINT), CAST(b AS BIGINT)))
        |               * 1099511628211)
        |               % CAST('18446744073709551616' AS HUGEINT)
        |           ) FOR s IN [0,1,2,3] ] AS fnv
        |  FROM documents)
        |SELECT asset_id, media_type, n_bytes,
        |       CAST(n_bytes % 640 AS INTEGER) AS width,
        |       CAST(n_bytes % 480 AS INTEGER) AS height,
        |       CAST(CAST(fnv[1] // 1099511627776 AS DOUBLE)
        |            / 16777216.0 AS FLOAT) AS stripe0,
        |       CAST(CAST(fnv[2] // 1099511627776 AS DOUBLE)
        |            / 16777216.0 AS FLOAT) AS stripe1,
        |       CAST(CAST(fnv[3] // 1099511627776 AS DOUBLE)
        |            / 16777216.0 AS FLOAT) AS stripe2,
        |       CAST(CAST(fnv[4] // 1099511627776 AS DOUBLE)
        |            / 16777216.0 AS FLOAT) AS stripe3
        |FROM f ORDER BY asset_id""".stripMargin,
    // q97's oracle: deletion-neighborhood candidates + exact levenshtein
    // verify. The O(n²) levenshtein join ground for 20+ min at sf0.1 and
    // forced a sweep skip; the blocked form is EQUIVALENT by the shared-
    // deletion theorem (lev(s,t) ≤ 1 ⇒ ({s} ∪ deletions(s)) ∩
    // ({t} ∪ deletions(t)) ≠ ∅ — substitution: delete the differing char
    // from both; insertion/deletion: the shorter string IS a deletion of
    // the longer; equality: the string itself), proven identical to the
    // brute-force result at sf0.01 when this oracle was upgraded. The
    // engine-independent completeness check lives in StatsSpec's
    // brute-force fixture compare.
    "q97_fuzzy_name_pairs" ->
      // len > 0 mirrors the engine's empty-string exclusion (an empty
      // name is within distance 1 of EVERY 1-char name — matching it is
      // noise, so both sides skip empties)
      """WITH n AS (SELECT c_custkey, c_name FROM customer
        |           WHERE len(c_name) > 0),
        |k AS (SELECT c_custkey, unnest(list_append(
        |        list_transform(range(1, len(c_name) + 1),
        |          i -> substr(c_name, 1, CAST(i - 1 AS INTEGER))
        |               || substr(c_name, CAST(i + 1 AS INTEGER))),
        |        c_name)) AS dk
        |      FROM n),
        |cand AS (SELECT DISTINCT a.c_custkey AS id_a,
        |                b.c_custkey AS id_b
        |         FROM k a JOIN k b USING (dk)
        |         WHERE a.c_custkey < b.c_custkey)
        |SELECT c.id_a, c.id_b, a.c_name AS name_a, b.c_name AS name_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM cand c
        |JOIN n a ON a.c_custkey = c.id_a
        |JOIN n b ON b.c_custkey = c.id_b
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // q123: q33's measure (same kept-gram universe over corpus ∪
    // increment) with pairs restricted to corpus × fresh
    "q123_incremental_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |fl AS (SELECT doc_id, substr(md5(text), 1, 1) = 'f' AS fresh
        |       FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |           unnest(list_filter(
        |             list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
        |                  i -> array_to_string(tk[i:i+2], ' ')),
        |             g -> len(g) > 0)) AS gram
        |    FROM toks)),
        |kept AS (
        |  SELECT doc_id, gram FROM (
        |    SELECT doc_id, gram,
        |           COUNT(*) OVER (PARTITION BY gram) AS gram_df
        |    FROM grams)
        |  WHERE gram_df <= 1000),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM kept GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS corpus_id, b.doc_id AS fresh_id,
        |         COUNT(*) AS common
        |  FROM kept a
        |  JOIN fl fa ON a.doc_id = fa.doc_id AND NOT fa.fresh
        |  JOIN kept b ON a.gram = b.gram
        |  JOIN fl fb ON b.doc_id = fb.doc_id AND fb.fresh
        |  GROUP BY 1, 2)
        |SELECT p.corpus_id, p.fresh_id, p.common,
        |       sa.n_grams AS size_corpus, sb.n_grams AS size_fresh,
        |       CAST(p.common AS DOUBLE)
        |         / (sa.n_grams + sb.n_grams - p.common) AS jaccard
        |FROM pairs p
        |JOIN sizes sa ON p.corpus_id = sa.doc_id
        |JOIN sizes sb ON p.fresh_id = sb.doc_id
        |WHERE CAST(p.common AS DOUBLE)
        |        / (sa.n_grams + sb.n_grams - p.common) >= 0.05
        |ORDER BY corpus_id, fresh_id""".stripMargin,
    // q228: the fixture waveform is an integer closed form (trig-free by
    // design — platform sin is 1-ulp and could flip a round), so DuckDB
    // regenerates every sample and replays the frame features exactly;
    // what the engine row proves is that the REAL WAV container parse
    // recovered those samples bit-for-bit.
    "q228_audio_features" ->
      """WITH ids AS (
        |  SELECT doc_id AS asset_id FROM documents WHERE doc_id < 500),
        |par AS (
        |  SELECT asset_id, 40 + (asset_id % 20) * 8 AS p FROM ids),
        |s AS (
        |  SELECT asset_id, i,
        |         CASE WHEN (i % p) < p // 2
        |              THEN ((i % p) * 4 * 12000) // p - 12000
        |              ELSE 3 * 12000 - ((i % p) * 4 * 12000) // p
        |         END AS v
        |  FROM par, range(0, 2000) r(i)),
        |f AS (
        |  SELECT asset_id, i // 512 AS frame_idx, v,
        |         lag(v) OVER (PARTITION BY asset_id, i // 512
        |                      ORDER BY i) AS pv
        |  FROM s)
        |SELECT asset_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       COUNT(*) AS n,
        |       round(sqrt(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)), 6)
        |         AS rms,
        |       round(CAST(SUM(CASE WHEN pv IS NOT NULL
        |                        AND ((pv >= 0) <> (v >= 0))
        |                       THEN 1 ELSE 0 END) AS DOUBLE)
        |             / (COUNT(*) - 1), 6) AS zcr
        |FROM f GROUP BY 1, 2
        |ORDER BY asset_id, frame_idx""".stripMargin,
    // q227: md5 prefix keys are replayed verbatim; docs under k tokens
    // count toward totals only (pfx NULL both sides).
    "q227_prefix_cache_share" ->
      """WITH base AS (
        |  SELECT source,
        |         CAST(len(tk) AS BIGINT) AS n_tok,
        |         CASE WHEN len(tk) >= 16
        |              THEN md5(array_to_string(tk[1:16], ' ')) END AS pfx
        |  FROM (SELECT source,
        |               list_filter(string_split_regex(lower(text), '\W+'),
        |                           t -> len(t) > 0) AS tk
        |        FROM documents)),
        |g AS (
        |  SELECT source, COUNT(*) AS n_prefixes,
        |         CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
        |           AS dup_docs
        |  FROM (SELECT source, pfx, COUNT(*) AS c FROM base
        |        WHERE pfx IS NOT NULL GROUP BY 1, 2)
        |  GROUP BY 1),
        |tot AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |  FROM base GROUP BY 1)
        |SELECT t.source, t.n_docs, t.n_tokens,
        |       CAST(COALESCE(g.n_prefixes, 0) AS BIGINT) AS n_prefixes,
        |       COALESCE(g.dup_docs, 0) AS dup_docs,
        |       COALESCE(g.dup_docs, 0) * 16 AS cacheable_tokens,
        |       round(CAST(COALESCE(g.dup_docs, 0) * 16 AS DOUBLE) /
        |             CAST(t.n_tokens AS DOUBLE), 6) AS savings_frac
        |FROM tot t LEFT JOIN g USING (source)
        |ORDER BY t.source""".stripMargin,
    // q221: engine mins over xxhash64(gram), oracle over the gram text
    // (q63/q207 precedent); greatest(len-4,1) replays the engine's
    // truncated whole-doc gram for docs under n tokens (q33's contract).
    "q221_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |           unnest(list_filter(
        |             list_transform(range(1, greatest(len(tk) - 4, 1) + 1),
        |                  i -> array_to_string(tk[i:i+4], ' ')),
        |             g -> len(g) > 0)) AS gram
        |    FROM toks)),
        |fst AS (SELECT gram, MIN(doc_id) AS first_id FROM grams GROUP BY 1),
        |novel AS (SELECT first_id AS doc_id, COUNT(*) AS n_novel
        |          FROM fst GROUP BY 1),
        |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM grams GROUP BY 1)
        |SELECT t.doc_id, t.n_shingles,
        |       CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
        |       round(CAST(COALESCE(n.n_novel, 0) AS DOUBLE)
        |             / CAST(t.n_shingles AS DOUBLE), 6) AS novelty
        |FROM tot t LEFT JOIN novel n USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q33_dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |           unnest(list_filter(
        |             list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
        |                  i -> array_to_string(tk[i:i+2], ' ')),
        |             g -> len(g) > 0)) AS gram
        |    FROM toks)),
        |kept AS (
        |  SELECT doc_id, gram FROM (
        |    SELECT doc_id, gram,
        |           COUNT(*) OVER (PARTITION BY gram) AS gram_df
        |    FROM grams)
        |  WHERE gram_df <= 1000),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM kept GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        |  FROM kept a JOIN kept b USING (gram)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, p.common,
        |       sa.n_grams AS size_a, sb.n_grams AS size_b,
        |       CAST(p.common AS DOUBLE)
        |         / (sa.n_grams + sb.n_grams - p.common) AS jaccard
        |FROM pairs p
        |JOIN sizes sa ON p.id_a = sa.doc_id
        |JOIN sizes sb ON p.id_b = sb.doc_id
        |WHERE CAST(p.common AS DOUBLE)
        |        / (sa.n_grams + sb.n_grams - p.common) >= 0.05
        |ORDER BY id_a, id_b""".stripMargin,
    "q38_token_count" ->
      """SELECT doc_id,
        |       LEN(string_split_regex(text, '\s+')) AS ws_tokens,
        |       LEN(regexp_extract_all(text,
        |           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q36/q37 mirror Text.withLangId / Text.withQualityScore expression by
    // expression (same tokenization as q33's oracle, same stopword lists,
    // same left-to-right double accumulation) so hashes match bit-for-bit.
    "q36_lang_id" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, text,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, lang, text,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk,
        |    len(list_filter(tk, t -> list_contains(
        |      ['the','and','of','to','in','is','that','it','was'], t))) AS s_en,
        |    len(list_filter(tk, t -> list_contains(
        |      ['der','die','das','und','ist','nicht','ein','mit'], t))) AS s_de,
        |    len(list_filter(tk, t -> list_contains(
        |      ['el','la','los','las','es','y','en','que','una'], t))) AS s_es,
        |    len(list_filter(tk, t -> list_contains(
        |      ['le','la','les','est','et','une','dans','que','pas'], t))) AS s_fr
        |  FROM toks),
        |guessed AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN cjk * 4 > len(text) THEN 'zh'
        |              WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
        |                THEN 'en'
        |              WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |              WHEN s_es >= s_fr THEN 'es'
        |              ELSE 'fr' END AS lang_guess
        |  FROM scored)
        |SELECT doc_id, lang, lang_guess,
        |       CAST(lang = lang_guess AS INTEGER) AS agree
        |FROM guessed ORDER BY doc_id""".stripMargin,
    "q37_quality_score" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk,
        |         CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
        |           AS alpha
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |         CAST(len(text) AS DOUBLE) AS n_chars,
        |         CAST(len(tk) AS DOUBLE) AS n_toks,
        |         alpha,
        |         CAST(len(list_filter(tk, t -> list_contains(
        |           ['the','and','of','to','in','is','that','it','was'], t)))
        |           AS DOUBLE) AS stops
        |  FROM s)
        |SELECT doc_id,
        |       round((least(n_chars / 500.0, 1.0)
        |            + alpha / greatest(n_chars, 1.0)
        |            + least(stops * 10.0 / greatest(n_toks, 1.0), 1.0)
        |            + (CASE WHEN alpha / greatest(n_toks, 1.0)
        |                      BETWEEN 3.0 AND 10.0
        |                    THEN 1.0 ELSE 0.5 END)) / 4.0, 6) AS quality
        |FROM c ORDER BY doc_id""".stripMargin,
    // q127: the oracle IS the brute-force LIKE scan the index replaces —
    // identical output because verification is exact
    "q127_trigram_search" ->
      """SELECT doc_id, CAST(strpos(text, 'merge batch') AS BIGINT) AS pos
        |FROM documents WHERE contains(text, 'merge batch')
        |ORDER BY doc_id""".stripMargin,
    // q129: INDEPENDENT brute-force inverted join (no prefix filtering) —
    // green means the prefix scheme lost no qualifying pair
    "q129_passage_containment" ->
      """WITH tk AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |dg AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(
        |           list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
        |                i -> array_to_string(tk[i:i+2], ' ')),
        |           g -> len(g) > 0))) AS gram
        |  FROM tk),
        |pgl AS (
        |  SELECT doc_id AS probe_id,
        |         list_distinct(list_filter(
        |           list_transform(range(1, greatest(len(ptk) - 2, 1) + 1),
        |                i -> array_to_string(ptk[i:i+2], ' ')),
        |           g -> len(g) > 0)) AS grams
        |  FROM (SELECT doc_id, tk[5:34] AS ptk FROM tk
        |        WHERE substring(md5(text), 1, 1) IN ('0', '1'))),
        |pg AS (SELECT probe_id, unnest(grams) AS gram FROM pgl),
        |ps AS (SELECT probe_id, len(grams) AS size_p FROM pgl),
        |j AS (
        |  SELECT pg.probe_id, dg.doc_id, COUNT(*) AS common
        |  FROM pg JOIN dg ON pg.gram = dg.gram
        |  GROUP BY pg.probe_id, dg.doc_id)
        |SELECT j.probe_id, j.doc_id, CAST(j.common AS BIGINT) AS common,
        |       CAST(ps.size_p AS BIGINT) AS size_p,
        |       round(CAST(j.common AS DOUBLE) / ps.size_p, 6)
        |         AS containment
        |FROM j JOIN ps ON ps.probe_id = j.probe_id
        |WHERE CAST(j.common AS DOUBLE) / ps.size_p >= 0.8
        |ORDER BY j.probe_id, j.doc_id""".stripMargin,
    // q131: BM25 mirrored tree-for-tree — divisions forced to DOUBLE
    // (DuckDB would otherwise divide in DECIMAL with different rounding);
    // constants 1.25/0.75/2.25/0.25/0.5 are exactly representable so
    // decimal-vs-double folding cannot diverge; per-doc term sum in
    // DECIMAL(28,12); ranking by the raw double score before rounding
    // q205: the q131 BM25 ranking and the q24 cosine ranking, fused by
    // reciprocal rank — every rrf term is 1.0/(60+rank) in DOUBLE (the
    // 1.0 cast matters: DuckDB's bare 1.0 is DECIMAL), the two-term sum
    // is IEEE-commutative, and the head orders by the RAW fused score
    "q205_hybrid_rrf" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tok,
        |         COUNT(*) AS tf
        |  FROM (SELECT doc_id, tk, unnest(tk) AS tok FROM tk)
        |  WHERE tok IN ('merge', 'batch', 'spark')
        |  GROUP BY doc_id, len(tk), tok),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs,
        |         CAST(SUM(len(tk)) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM tk),
        |dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT tf.doc_id,
        |         ln(CAST(stats.n_docs - dft.df + 0.5 AS DOUBLE) /
        |            CAST(dft.df + 0.5 AS DOUBLE) + 1.0)
        |           * (tf.tf * 2.25) /
        |           (tf.tf + 1.25 *
        |             (0.25 + CAST(0.75 * tf.dl AS DOUBLE) / stats.avgdl))
        |           AS s
        |  FROM tf JOIN dft ON tf.tok = dft.tok CROSS JOIN stats),
        |lexs AS (
        |  SELECT doc_id,
        |         CAST(SUM(CAST(s AS DECIMAL(28,12))) AS DOUBLE) AS sc
        |  FROM scored GROUP BY doc_id),
        |lexr AS (
        |  SELECT doc_id, r_lex FROM (
        |    SELECT doc_id,
        |           CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id)
        |                AS BIGINT) AS r_lex
        |    FROM lexs) WHERE r_lex <= 20),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb
        |      FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id AS doc_id,
        |             CAST(embedding AS DOUBLE[]) AS c_emb
        |      FROM embeddings WHERE vec_id <> 0),
        |dsc AS (
        |  SELECT c.doc_id,
        |         ROUND(list_dot_product(q.q_emb, c.c_emb) /
        |               (SQRT(list_dot_product(q.q_emb, q.q_emb)) *
        |                SQRT(list_dot_product(c.c_emb, c.c_emb))), 6) AS sim
        |  FROM c, q),
        |denser AS (
        |  SELECT doc_id, r_dense FROM (
        |    SELECT doc_id,
        |           CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id)
        |                AS BIGINT) AS r_dense
        |    FROM dsc) WHERE r_dense <= 20),
        |fused AS (
        |  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
        |         COALESCE(l.r_lex, 0) AS r_lex,
        |         COALESCE(d.r_dense, 0) AS r_dense
        |  FROM lexr l FULL OUTER JOIN denser d ON l.doc_id = d.doc_id),
        |fin AS (
        |  SELECT doc_id, r_lex, r_dense,
        |         (CASE WHEN r_lex > 0
        |               THEN CAST(1.0 AS DOUBLE) / (60 + r_lex)
        |               ELSE CAST(0.0 AS DOUBLE) END +
        |          CASE WHEN r_dense > 0
        |               THEN CAST(1.0 AS DOUBLE) / (60 + r_dense)
        |               ELSE CAST(0.0 AS DOUBLE) END) AS rrf_raw
        |  FROM fused)
        |SELECT doc_id, r_lex, r_dense, ROUND(rrf_raw, 6) AS rrf
        |FROM fin ORDER BY rrf_raw DESC, doc_id LIMIT 10""".stripMargin,
    "q131_bm25_retrieval" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, tok,
        |         COUNT(*) AS tf
        |  FROM (SELECT doc_id, tk, unnest(tk) AS tok FROM tk)
        |  WHERE tok IN ('merge', 'batch', 'spark')
        |  GROUP BY doc_id, len(tk), tok),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs,
        |         CAST(SUM(len(tk)) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM tk),
        |dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT tf.doc_id,
        |         ln(CAST(stats.n_docs - dft.df + 0.5 AS DOUBLE) /
        |            CAST(dft.df + 0.5 AS DOUBLE) + 1.0)
        |           * (tf.tf * 2.25) /
        |           (tf.tf + 1.25 *
        |             (0.25 + CAST(0.75 * tf.dl AS DOUBLE) / stats.avgdl))
        |           AS s
        |  FROM tf JOIN dft ON tf.tok = dft.tok CROSS JOIN stats)
        |SELECT doc_id,
        |       round(CAST(SUM(CAST(s AS DECIMAL(28,12))) AS DOUBLE), 6)
        |         AS score
        |FROM scored GROUP BY doc_id
        |ORDER BY CAST(SUM(CAST(s AS DECIMAL(28,12))) AS DOUBLE) DESC,
        |         doc_id
        |LIMIT 20""".stripMargin,
    // q135: the q74 chunk recipe at stride 8 = size 8 (non-overlapping;
    // trailing partial chunk included); the engine groups/joins on
    // xxhash64(passage), the oracle on the passage text — identical
    // counts (q63 precedent). Within-doc repeats of a passage each count
    // toward n_passages; pdf counts DISTINCT documents.
    "q135_boilerplate_passages" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'),
        |                     t -> len(t) > 0) AS tk
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(tk) + 1, 8),
        |           s -> array_to_string(tk[s:s+7], ' '))) AS passage
        |  FROM toks WHERE len(tk) > 0),
        |pd AS (
        |  SELECT passage, COUNT(DISTINCT doc_id) AS pdf
        |  FROM ch GROUP BY passage)
        |SELECT doc_id, COUNT(*) AS n_passages,
        |       CAST(SUM(CASE WHEN pdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_boiler,
        |       round(CAST(SUM(CASE WHEN pdf >= 2 THEN 1 ELSE 0 END)
        |               AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |         AS boiler_frac
        |FROM ch JOIN pd USING (passage)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
