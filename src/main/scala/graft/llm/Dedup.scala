package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators over a document table `(id, text)`. Every
  * operator is bucketed/banded: candidate pairs come from equi-joins on
  * hash-derived keys (shuffle-parallel, skew-bounded), NEVER from an
  * all-pairs product — the difference between running at 100 TB and not
  * running at all. Verification (Jaccard / Hamming) happens only on the
  * candidate set.
  *
  * ==Caching contract==
  * The pair-producing operators ([[minhashPairs]], [[ngramJaccardPairs]],
  * [[simhashPairs]]) `persist()` intermediate frames (signatures / band
  * keys) because each feeds the bucket census plus both self-join sides —
  * without the cache Spark recomputes the hash tree per plan branch
  * (measured 2× end-to-end). Those caches are SCOPED: the (small) result
  * frame is persisted and materialized before the method returns, and the
  * intermediates are unpersisted on the way out — a long-lived session
  * composing many pipelines accumulates nothing it didn't ask for, and no
  * session-wide `clearCache()` is needed. The one cached handle left is
  * the frame the caller holds; `unpersist()` it when done (or let LRU
  * evict it).
  */
object Dedup {

  /** Persist + materialize `result`, then release the scoped
    * `intermediates` caches (see the caching contract above). The
    * materializing action runs while the intermediates are still cached,
    * so the expensive hash tree is computed exactly once; afterwards the
    * returned frame serves all downstream plans from its own (cached,
    * fault-tolerant — recomputable on executor loss, unlike a local
    * checkpoint) blocks.
    */
  private[llm] def scoped(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val out = result.persist()
    out.count()
    intermediates.foreach(_.unpersist(blocking = false))
    out
  }

  /** Exact dedup: group by content hash, keep the smallest id as the
    * canonical copy. The shuffle key is the 32-byte sha2, not the
    * document text, so shuffle volume is O(rows), not O(corpus bytes).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** Banded MinHash-LSH near-duplicate pairs with exact-Jaccard rescoring.
    *
    * shingle -> k=bands*rowsPerBand MinHashes -> band keys -> explode ->
    * DROP MEGA-BUCKETS -> self-equi-join on the band key (candidates) ->
    * distinct -> exact Jaccard on candidates only -> threshold filter.
    *
    * With b bands of r rows, P(candidate) = 1-(1-j^r)^b — the standard
    * S-curve; defaults catch j >= ~0.6 with high probability.
    *
    * The mega-bucket guard (`maxBucketSize`) drops band keys shared by
    * more than that many documents before the self-join. A band key hit
    * by thousands of documents carries no near-dup signal (it means the
    * hash collided on corpus-common content) but would contribute
    * O(bucket²) candidate pairs — on a shared-vocabulary corpus this is
    * the difference between linear and quadratic work (measured: 496s ->
    * seconds at sf0.1 for the char-gram variant). Standard practice in
    * production LSH dedup, and the oracle applies the same HAVING guard.
    *
    * EAGER: runs a Spark job and returns a persisted handle (see the
    * caching contract above) — downstream filters do NOT push into the
    * pair computation; `unpersist()` the result when done.
    */
  def minhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 6, rowsPerBand: Int = 2,
      minJaccard: Double = 0.5,
      maxBucketSize: Int = 64,
      fastHash: Boolean = false,
      saltHotBuckets: Boolean = false): DataFrame =
    lshPairs(
      docs.select(col(idCol).as("id"),
        TextFunctions.wordShingles(TextFunctions.tokens(col(textCol)), 3).as("sh")),
      bands, rowsPerBand, minJaccard, maxBucketSize, fastHash, saltHotBuckets)

  /** Shared banded-LSH pipeline over a pre-shingled `(id, sh)` frame.
    * `fastHash` swaps the oracle-parity md5 base hash for xxhash64 —
    * the production setting when DuckDB comparability isn't needed
    * (TextFunctions.shingleHashesFast doc).
    *
    * `saltHotBuckets` picks the hot-bucket policy: false (default)
    * DROPS band keys shared by more than `maxBucketSize` documents —
    * they carry no near-dup signal on natural corpora; true instead
    * SPLITS each hot bucket into ceil(n/maxBucketSize) deterministic
    * salt groups (md5 fold of the doc id) and self-joins within
    * (band, salt): per-bucket work falls from O(n²) to
    * O(n × maxBucketSize) while a true near-dup pair inside the flood
    * still survives with probability ~1/groups per band — and with b
    * independent bands, usually through some other band. The salted
    * mode is the adversarial-skew setting: a corpus engineered to
    * flood one band key can never force quadratic work, yet signal is
    * degraded rather than zeroed.
    */
  private def lshPairs(
      sh0: DataFrame, bands: Int, rowsPerBand: Int,
      minJaccard: Double, maxBucketSize: Int,
      fastHash: Boolean = false,
      saltHotBuckets: Boolean = false): DataFrame = {
    // Persist the shingle and band frames: each feeds 2-3 plan branches
    // (bucket census + both self-join sides / both rescoring joins), and
    // without a cache Spark re-computes the k x shingles MinHash tree per
    // branch — measured 2x end-to-end on the degenerate char-gram corpus.
    // MEMORY_AND_DISK, evicted LRU; Spark MLlib's LSH does the same. The
    // base hashes and the signature materialize as real columns before
    // banding, so md5 runs once per shingle and the signature once per
    // doc. Signature kernel: the native one-pass MinHashSignature
    // expression when GraftExtensions is registered (GraftSession always
    // registers it), else the equivalent HOF formulation.
    val k = bands * rowsPerBand
    val sigCol =
      if (graft.plans.GraftExtensions.registered(sh0.sparkSession))
        call_function("graft_minhash_sig", col("__hs"), lit(k))
      else TextFunctions.minhashSignature(col("__hs"), k)
    val sh = sh0
      .withColumn("__hs",
        if (fastHash) TextFunctions.shingleHashesFast(col("sh"))
        else TextFunctions.shingleHashes(col("sh")))
      .withColumn("__sig", sigCol)
      .persist()
    val banded = sh.select(col("id"),
      explode(TextFunctions.lshBandKeysFromSig(col("__sig"), bands, rowsPerBand)).as("band"))
      .persist()
    val census = banded.groupBy(col("band")).agg(count(lit(1)).as("__n"))
    val discriminative =
      if (!saltHotBuckets)
        banded.join(census.filter(col("__n") <= maxBucketSize).select(col("band")),
          Seq("band"), "left_semi")
      else
        banded.join(census, Seq("band"))
          .select(col("id"),
            concat(col("band"), lit("#"),
              (conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10).cast("long")
                % greatest(ceil(col("__n") / lit(maxBucketSize.toDouble)).cast("long"), lit(1L)))
                .cast("string")).as("band"))
    val cands = discriminative.as("a")
      .join(discriminative.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    scoped(
      cands
        .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          TextFunctions.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
        .filter(col("jaccard") >= lit(minJaccard)),
      sh, banded)
  }

  /** SimHash near-duplicate pairs: 32-bit SimHash, banded into two
    * 16-bit halves — docs at Hamming distance d share at least one
    * identical half whenever the differing bits all land in the other
    * half (guaranteed for d = 0, probabilistic above; more/narrower bands
    * raise recall, exactly the MinHash-band trade-off) — then exact
    * Hamming distance on the candidate pairs only.
    *
    * Same mega-bucket guard as [[minhashPairs]]: with only 2^16 possible
    * values per band, a topically-uniform corpus concentrates documents
    * into few half-values and the self-join goes O(bucket²); band keys
    * hit by more than `maxBucketSize` docs carry no near-dup signal and
    * are dropped before the join (the oracle applies the same HAVING
    * guard). Persists the banded frame — see the caching contract above.
    *
    * EAGER: runs a Spark job and returns a persisted handle;
    * `unpersist()` the result when done.
    */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6,
      maxBucketSize: Int = 64): DataFrame = {
    val sims = docs
      .select(col(idCol).as("id"), TextFunctions.tokenHashes(col(textCol)).as("__h"))
      .select(col("id"), simhashCol(docs, col("__h")).as("simhash"))
    val banded = sims.select(col("id"), col("simhash"),
      explode(array(
        concat(lit("lo:"), (col("simhash") % 65536).cast("string")),
        concat(lit("hi:"), (col("simhash") / 65536).cast("long").cast("string"))
      )).as("band"))
      .persist()
    val keep = banded.groupBy(col("band"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize)
      .select(col("band"))
    val discriminative = banded.join(keep, Seq("band"), "left_semi")
    scoped(
      discriminative.as("a")
        .join(discriminative.as("b"),
          col("a.band") === col("b.band") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= lit(maxHamming)),
      banded)
  }

  /** Hamming near-dup pairs over ANY precomputed 64-bit fingerprint
    * column (perceptual image aHash, rolling document fingerprints,
    * externally-computed sketches …) — the generic form of
    * [[simhashPairs]]'s candidate machinery: band the 64 bits into four
    * 16-bit quarters, equi-join within quarter buckets (pigeonhole: two
    * hashes within Hamming distance 3 MUST share one untouched quarter,
    * so recall is exact for `maxHamming` <= 3; above 3 the bands are a
    * recall/cost dial like every LSH here), drop mega-buckets (a
    * degenerate quarter — e.g. all-dark images zeroing a band — would
    * otherwise go quadratic), rescore candidates with the exact
    * `bit_count(xor)` distance. Shuffle key is the 16-bit band value —
    * O(rows·4), never pairwise.
    *
    * Output: (id_a, id_b, hamming), id_a < id_b, hamming <= maxHamming.
    * EAGER (see the caching contract); `unpersist()` when done.
    */
  def hammingPairs64(
      df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 64): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 64, s"bad maxHamming $maxHamming")
    val hashes = df.select(col(idCol).as("id"), col(hashCol).cast("long").as("__f"))
    val banded = hashes.select(col("id"), col("__f"),
      explode(array((0 until 4).map(q =>
        concat(lit(s"q$q:"),
          shiftright(col("__f"), 16 * q).bitwiseAND(lit(0xffffL)).cast("string"))): _*))
        .as("band"))
      .persist()
    val keep = banded.groupBy(col("band"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize)
      .select(col("band"))
    val discriminative = banded.join(keep, Seq("band"), "left_semi")
    scoped(
      discriminative.as("a")
        .join(discriminative.as("b"),
          col("a.band") === col("b.band") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          bit_count(col("a.__f").bitwiseXOR(col("b.__f"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= lit(maxHamming)),
      banded)
  }

  /** 32-bit SimHash over a token-hash array column: the native one-pass
    * kernel when GraftExtensions is registered, else the HOF twin.
    */
  def simhashCol(df: DataFrame, hashes: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (graft.plans.GraftExtensions.registered(df.sparkSession))
      call_function("graft_simhash", hashes, lit(32))
    else TextFunctions.simhash(hashes)

  /** Connected components of a near-dup pair graph: every document gets
    * `cluster_id` = the smallest doc id reachable through pairs
    * (singletons keep their own id), which is what turns pairwise LSH
    * output into an actionable dedup decision — keep `id == cluster_id`,
    * drop the rest.
    *
    * Algorithm: min-label propagation WITH pointer jumping — each round
    * every node takes the min label among itself, its neighbors' labels,
    * and its label's label (`label(label(u))`, the path-doubling step of
    * Shiloach–Vishkin). Plain neighbor propagation alone walks one hop
    * per round (O(diameter) rounds — a 100-node paraphrase chain would
    * not converge in any fixed cap); the doubling step halves remaining
    * pointer depth each round, so convergence is O(log diameter) and the
    * [[MaxRounds]] cap (50 ⇒ diameters up to ~2^49) is unreachable for
    * any physical graph. If the fixpoint is somehow not reached the
    * method THROWS rather than return wrong cluster ids. Scale shape per
    * round: two O(E)/O(V) equi-joins + one O(V+E) aggregation — all
    * shuffle-parallel, nothing driver-side except the per-round
    * convergence count; `localCheckpoint` cuts the growing lineage so
    * plan size stays constant across rounds.
    */
  def nearDupClusters(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    nearDupClustersWithRounds(docs, idCol, pairs)._1

  /** Rounds cap for [[nearDupClusters]]; with pointer jumping this
    * bounds reachable component diameter at ~2^(MaxRounds-1).
    */
  val MaxRounds = 50

  /** [[nearDupClusters]] plus the number of propagation rounds actually
    * run — exposed so tests can pin the O(log diameter) convergence.
    */
  private[graft] def nearDupClustersWithRounds(
      docs: DataFrame, idCol: String, pairs: DataFrame): (DataFrame, Int) = {
    val ids = docs.select(col(idCol).cast("long").as("id")).distinct()
    val edges = pairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .union(pairs.select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))
      .persist()
    var labels = ids.select(col("id"), col("id").as("label")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < MaxRounds) {
      val viaNeighbors = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("label"),
          lit(null).cast("long").as("__old"))
      // Pointer jumping: u's label p contributes p's own label — labels
      // always point to a smaller id in the same component, so this is
      // sound, and it is what makes convergence logarithmic.
      val viaParent = labels.as("x")
        .join(labels.as("y"), col("x.label") === col("y.id"))
        .select(col("x.id").as("id"), col("y.label").as("label"),
          lit(null).cast("long").as("__old"))
      // The self branch carries the previous label through the aggregate
      // (max over one non-null value per id), so the convergence count is
      // a filter over the just-checkpointed blocks — the r6 form joined
      // `next` back against `labels`, a whole extra shuffle join job per
      // round (guide §2.4).
      val self = labels.select(col("id"), col("label"), col("label").as("__old"))
      val next = self.union(viaNeighbors).union(viaParent)
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"), max(col("__old")).as("__old"))
        .localCheckpoint()
      changed = next.filter(col("label") =!= col("__old")).count()
      labels = next.select(col("id"), col("label"))
      rounds += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $MaxRounds rounds " +
          s"($changed labels still changing) — refusing to return wrong cluster ids")
    (labels.select(col("id").as(idCol), col("label").as("cluster_id")), rounds)
  }

  /** The dedup ACTION on top of [[nearDupClusters]]: one kept document
    * per cluster — highest [[TextFunctions.qualityScore]], ties to the
    * smallest id — plus the member count, which is the decision record a
    * production dedup emits (what was kept, what it replaced). One
    * window over the cluster id; the cluster frame is the expensive
    * input and is computed once.
    */
  def keepBest(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = nearDupClusters(docs, idCol, pairs)
    val scored = docs
      .select(col(idCol), TextFunctions.qualityScore(col(textCol)).as("__q"))
      .join(clusters, idCol)
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("__q").desc, col(idCol))
    scored
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col(idCol).as("kept_id"), col("n_members"))
  }

  /** Character-n-gram Jaccard near-dup pairs: same banded-LSH candidate
    * generation, but over character 4-grams — robust to token-boundary
    * edits where word shingles are brittle.
    *
    * EAGER: runs a Spark job and returns a persisted handle;
    * `unpersist()` the result when done.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 4, bands: Int = 6, rowsPerBand: Int = 2,
      minJaccard: Double = 0.5,
      maxBucketSize: Int = 64): DataFrame =
    lshPairs(
      docs.select(col(idCol).as("id"),
        TextFunctions.charShingles(col(textCol), n).as("sh")),
      bands, rowsPerBand, minJaccard, maxBucketSize)

  /** The persisted SIGNATURE INDEX for incremental dedup — one row per
    * document: `(id, hs, sig)` where `hs` is the 32-bit shingle-hash set
    * and `sig` the k = bands×rowsPerBand MinHash signature. No text
    * column: the index is what a production pipeline persists between
    * ingests (write it to parquet) so that arriving shards can be
    * deduplicated against the whole corpus WITHOUT re-reading or
    * re-shingling corpus text — the daily-ingest operation, where the
    * corpus is 100 TB and the shard is a few hundred GB. `hs` is kept
    * (not just `sig`) so candidate pairs can be EXACTLY rescored from
    * the index alone: Jaccard over the 32-bit hash sets, which equals
    * string-shingle Jaccard except under md5-fold collisions inside one
    * pair's shingle union (~|sh|²/2³² ≈ 10⁻⁵ per pair — and LSH
    * candidate generation is already probabilistic at a far coarser
    * grain). Index size is O(tokens) longs, ~comparable to the text it
    * replaces, partitionable and prunable like any parquet table.
    */
  def signatureIndex(
      docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 6, rowsPerBand: Int = 2): DataFrame = {
    val k = bands * rowsPerBand
    val base = docs.select(col(idCol).as("id"),
      TextFunctions.shingleHashes(
        TextFunctions.wordShingles(TextFunctions.tokens(col(textCol)), 3)).as("hs"))
    val sigCol =
      if (graft.plans.GraftExtensions.registered(docs.sparkSession))
        call_function("graft_minhash_sig", col("hs"), lit(k))
      else TextFunctions.minhashSignature(col("hs"), k)
    base.select(col("id"), col("hs"), sigCol.as("sig"))
  }

  /** Incremental near-dup pairs: every pair TOUCHING the new shard —
    * shard×corpus and shard×shard, never corpus×corpus (those were
    * found when the corpus was indexed) — identical to recomputing
    * [[minhashPairs]] over corpus ∪ shard from scratch and keeping the
    * shard-touching pairs, but the corpus side reads ONLY the persisted
    * [[signatureIndex]]: no corpus text scan, no re-shingle, no
    * re-hash. Only the shard (the small side) pays the md5 tree.
    *
    * Exactness: banding is deterministic per document, so index-time
    * band keys equal from-scratch band keys; the mega-bucket census is
    * taken over index ∪ shard bands, which IS the union corpus census.
    * Rescoring is Jaccard over the stored hash sets (see
    * [[signatureIndex]] for the collision fine print). CONTRACT: shard
    * ids must be disjoint from index ids — a duplicated id matches both
    * its copies in the rescoring joins and inflates pair rows
    * ([[ingestFilter]] enforces this with an up-front anti-join; call
    * sites composing manually should do the same on replayed input).
    *
    * EAGER: runs a Spark job and returns a persisted handle (caching
    * contract above); `unpersist()` the result when done.
    */
  def incrementalPairs(
      index: DataFrame, shard: DataFrame,
      idCol: String, textCol: String,
      bands: Int = 6, rowsPerBand: Int = 2,
      minJaccard: Double = 0.5,
      maxBucketSize: Int = 64): DataFrame = {
    // r8 restructure (guide §2.3/§8): the r7 form unioned the whole
    // index with the shard, PERSISTED the union (the corpus hs payload
    // in cache — spills at volume, same failure mode the r8
    // writeBandedIndex note records) and self-joined the full banded
    // union — shuffling the (huge) index bands on BOTH join sides plus
    // the census, to keep only shard-touching pairs afterwards. The
    // daily-ingest asymmetry (shard << corpus) is knowledge the
    // optimizer doesn't have, so encode it: this is exactly
    // [[incrementalPairsBucketed]]'s algebra, over a plain parquet index
    //
    //   - union band census = index census + shard census, full-outer
    //     summed (exact because ids are disjoint — the CONTRACT above);
    //     the mega-bucket KEEP semi-join inverts into an anti-join
    //     against the (bounded, broadcast) DROP set;
    //   - shard-touching candidates split into shard x index (band
    //     equi-join, index side streamed once, never self-joined) and
    //     shard x shard (self-join of the small banded shard) — together
    //     exactly the `a.__new OR b.__new` pairs of the r7 form;
    //   - only the (small) shard signature frame is cached; the index
    //     side is read per branch with column pruning — (id, sig) for
    //     the band branches, (id, hs) for rescoring — never cached.
    //
    // Result-identical by the same argument DedupIndexSpec pins for the
    // bucketed twin, and the oracle gate re-proves it from scratch.
    val shardSig = signatureIndex(shard, idCol, textCol, bands, rowsPerBand)
      .persist()
    val shardBands = shardSig.select(col("id"),
      explode(TextFunctions.lshBandKeysFromSig(col("sig"), bands, rowsPerBand)).as("band"))
      .persist()
    val idxBands = index.select(col("id"),
      explode(TextFunctions.lshBandKeysFromSig(col("sig"), bands, rowsPerBand)).as("band"))
    val censusI = idxBands.groupBy(col("band")).agg(count(lit(1)).as("__ni"))
    val censusS = shardBands.groupBy(col("band")).agg(count(lit(1)).as("__ns"))
    // persisted: the DROP set feeds three anti-join branches (si twice
    // via the shard self-join, ii once) and exchange reuse across
    // branches is not guaranteed pre-runtime -- without the cache the
    // full-outer census (including the index band scan) replicates per
    // branch. The frame is bounded (hot bands only) and released with
    // the other scoped caches.
    val drop = censusI.join(censusS, Seq("band"), "full_outer")
      .select(col("band"),
        (coalesce(col("__ni"), lit(0L)) + coalesce(col("__ns"), lit(0L))).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .select(col("band"))
      .persist()
    val si = shardBands.join(broadcast(drop), Seq("band"), "left_anti")
    val ii = idxBands.join(broadcast(drop), Seq("band"), "left_anti")
    val candsIdx = si.as("s").join(ii.as("i"), col("s.band") === col("i.band"))
      .select(least(col("s.id"), col("i.id")).as("id_a"),
        greatest(col("s.id"), col("i.id")).as("id_b"))
    val candsShard = si.as("a").join(si.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cands = candsIdx.union(candsShard).distinct()
    val allHs = index.select(col("id"), col("hs"))
      .union(shardSig.select(col("id"), col("hs")))
    val rescored = cands
      .join(allHs.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(allHs.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        TextFunctions.jaccard(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= lit(minJaccard))
    scoped(rescored, shardSig, shardBands, drop)
  }

  /** The ingest ACTION on top of [[incrementalPairs]]: the arriving
    * shard with every near-duplicate of an EXISTING lower-id document
    * (indexed corpus, or earlier within the shard itself) dropped —
    * i.e. what a daily pipeline actually appends to the corpus, plus
    * the contract that appending `signatureIndex(kept)` to the index
    * keeps the whole cycle incremental. A shard document is dropped
    * iff some pair names it as the higher id (`id_a < id_b` by
    * construction, matching the keep-smallest convention of [[exact]]
    * and [[nearDupClusters]]); the filter is one left-anti join of the
    * shard against the (tiny) dropped-id set.
    *
    * IDEMPOTENT under replay: shard documents whose ID already exists
    * in the index are dropped up front (one anti-join on the id) —
    * a crash-recovery re-run of an already-indexed shard ingests
    * nothing instead of re-appending every document (a doc can never
    * LSH-pair with its own indexed copy, since candidate pairs require
    * `id_a < id_b`; the id guard is what makes the cycle exactly-once).
    *
    * EAGER: returns a persisted handle (caching contract above);
    * `unpersist()` when done.
    */
  def ingestFilter(
      index: DataFrame, shard: DataFrame,
      idCol: String, textCol: String,
      bands: Int = 6, rowsPerBand: Int = 2,
      minJaccard: Double = 0.5,
      maxBucketSize: Int = 64): DataFrame = {
    val fresh = shard.join(index.select(col("id").as(idCol)), Seq(idCol), "left_anti")
    val pairs = incrementalPairs(index, fresh, idCol, textCol,
      bands, rowsPerBand, minJaccard, maxBucketSize)
    scoped(
      fresh.join(pairs.select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_anti"),
      pairs)
  }

  /** Persist a [[signatureIndex]] as TWO bucket-partitioned catalog
    * tables — the layout that makes the daily ingest join
    * EXCHANGE-FREE on the (huge) index side:
    *
    *   - `<name>_bands(id, band)` bucketed+sorted by `band`: the LSH
    *     inverted list the shard equi-joins against, pre-exploded so
    *     ingest never touches `sig`.
    *   - `<name>_sigs(id, hs, sig)` bucketed by `id`: the rescore side.
    *
    * At corpus scale the index dwarfs every shard by orders of
    * magnitude; [[incrementalPairs]] already avoids re-READING corpus
    * text, but still re-SHUFFLES the banded index (census + band join)
    * on every ingest. Bucketing moves that shuffle to index-build time,
    * once: the band join streams each index bucket in place (only the
    * small shard side exchanges) and the band census aggregates without
    * any exchange at all (the scan's hash partitioning on `band`
    * already satisfies the aggregation's distribution).
    * [[DedupIndexSpec]] pins both plan shapes.
    *
    * Tables are EXTERNAL (explicit `path`), deliberately: a managed
    * table whose warehouse directory survives a JVM restart while the
    * in-memory catalog forgets it fails its next CREATE with
    * LOCATION_ALREADY_EXISTS — external locations are allowed to
    * exist, so rebuild-into-place works across sessions.
    */
  def writeBandedIndex(index: DataFrame, name: String, pathRoot: String,
      buckets: Int = 32, bands: Int = 6, rowsPerBand: Int = 2): Unit = {
    // One corpus text scan total, NO cache of the signature frame (r8).
    // The r7 form persisted (id, hs, sig) across the two writes; at
    // corpus volume the hs payload blows the storage pool and the cache
    // spills to disk — BENCH_dedup_r07 measured the build at 177.5 s vs
    // 23.0 s for the same corpus without the persist (guide §5: caching
    // competes with execution memory; never cache the heavy payload).
    // Instead the sigs table is written FIRST, straight off the
    // signature plan (the one text scan), and the bands table derives
    // from reading BACK the just-written sigs table pruned to (id, sig)
    // — so the md5/MinHash tree still runs exactly once and nothing
    // bulky is ever cached. A caller-persisted input frame is left
    // untouched (ADVICE r7).
    //
    // Both writes repartition onto the writer's own bucket-id expression
    // (pmod(hash(col), buckets) — murmur3, the same placement the
    // bucketed writer stamps per row; see TableMaintenance.
    // compactBucketedTable for why a plain repartition(n, bucketCols)
    // would be ELIMINATED by the write planner). Every bucket then lands
    // in exactly one task: `buckets` files per table written in
    // parallel, instead of tasks x buckets small files with a per-task
    // sort over the full slice (guide §6).
    val spark = index.sparkSession
    index.repartition(buckets, pmod(hash(col("id")), lit(buckets)))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "id")
      .option("path", s"$pathRoot/sigs")
      .saveAsTable(s"${name}_sigs")
    spark.table(s"${name}_sigs")
      .select(col("id"),
        explode(TextFunctions.lshBandKeysFromSig(col("sig"), bands, rowsPerBand))
          .as("band"))
      .repartition(buckets, pmod(hash(col("band")), lit(buckets)))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "band").sortBy("band")
      .option("path", s"$pathRoot/bands")
      .saveAsTable(s"${name}_bands")
  }

  /** [[incrementalPairs]] against a [[writeBandedIndex]] layout —
    * identical result set (the gate reuses the from-scratch oracle),
    * restructured so the index side never shuffles:
    *
    *   - the union band census becomes index census (exchange-free,
    *     bucket-aligned) + shard census, full-outer-summed; the
    *     mega-bucket KEEP semi-join inverts into an anti-join against
    *     the (tiny, broadcast) DROP set — same set algebra, but the
    *     broadcast side is now the bounded one.
    *   - shard-touching candidates split into shard x index (band
    *     equi-join against the bucketed inverted list, ids normalized
    *     with least/greatest) and shard x shard (self-join of the small
    *     banded shard) — together exactly the `a.__new OR b.__new`
    *     pairs of [[incrementalPairs]], without materializing a union
    *     that would erase the bucketing.
    *
    * Same id-disjointness CONTRACT and eager/caching contract as
    * [[incrementalPairs]].
    */
  def incrementalPairsBucketed(
      spark: org.apache.spark.sql.SparkSession, name: String, shard: DataFrame,
      idCol: String, textCol: String,
      bands: Int = 6, rowsPerBand: Int = 2,
      minJaccard: Double = 0.5,
      maxBucketSize: Int = 64): DataFrame = {
    val idxBands = spark.table(s"${name}_bands")
    val idxSigs = spark.table(s"${name}_sigs")
    val shardSig = signatureIndex(shard, idCol, textCol, bands, rowsPerBand).persist()
    val shardBands = shardSig.select(col("id"),
      explode(TextFunctions.lshBandKeysFromSig(col("sig"), bands, rowsPerBand))
        .as("band")).persist()
    val censusI = idxBands.groupBy(col("band")).agg(count(lit(1)).as("__ni"))
    val censusS = shardBands.groupBy(col("band")).agg(count(lit(1)).as("__ns"))
    val drop = censusI.join(censusS, Seq("band"), "full_outer")
      .select(col("band"),
        (coalesce(col("__ni"), lit(0L)) + coalesce(col("__ns"), lit(0L))).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .select(col("band"))
    val si = shardBands.join(broadcast(drop), Seq("band"), "left_anti")
    val ii = idxBands.join(broadcast(drop), Seq("band"), "left_anti")
    val candsIdx = si.as("s").join(ii.as("i"), col("s.band") === col("i.band"))
      .select(least(col("s.id"), col("i.id")).as("id_a"),
        greatest(col("s.id"), col("i.id")).as("id_b"))
    val candsShard = si.as("a").join(si.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cands = candsIdx.union(candsShard).distinct()
    val allHs = idxSigs.select(col("id"), col("hs"))
      .union(shardSig.select(col("id"), col("hs")))
    scoped(
      cands
        .join(allHs.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
        .join(allHs.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          TextFunctions.jaccard(col("hs_a"), col("hs_b")).as("jaccard"))
        .filter(col("jaccard") >= lit(minJaccard)),
      shardSig, shardBands)
  }
}
