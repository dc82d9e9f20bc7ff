package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines: exact, set-similarity
  * (n-gram Jaccard), MinHash+LSH, and SimHash.
  *
  * Scale design (the point of each variant):
  *  - [[exact]] is one hash-shuffle on a 16-byte fingerprint — the cheapest
  *    possible full dedup; at 100 TB the shuffle carries only
  *    (fingerprint, id), never the document bodies.
  *  - [[shingleJaccardPairs]] is an inverted-index set-similarity join:
  *    explode shingles → self-join on shingle → count shared shingles →
  *    jaccard from |A|,|B|,|A∩B|. No O(n²) pair enumeration; cost is
  *    Σ df(shingle)² over the shingle vocabulary. Hot shingles are capped
  *    (`maxShingleDf`) — the standard prefix-filtering/stop-shingle guard
  *    that keeps the join from quadratic blowup on boilerplate text.
  *  - [[minhashLshPairs]] replaces the exact index join with banded MinHash
  *    buckets: candidate generation touches only (band, bandHash) keys, so
  *    the shuffle volume is O(n · bands), independent of document length —
  *    this is the 100 TB path. Candidates are verified with exact Jaccard
  *    so precision is 1.0; recall follows the standard (1-(1-j^r)^b) curve.
  *  - [[simhashPairs]] catches small *edit*-distance clones via 64-bit
  *    SimHash and banded Hamming search (pigeonhole: dist ≤ maxHamming must
  *    match on ≥1 of maxHamming+1 bands).
  *
  * All hashing uses Spark's built-in xxhash64 (codegen'd, deterministic
  * across runs/clusters); signatures are array-expression folds — zero UDFs,
  * zero driver-side loops.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per canonical-text fingerprint.
    * Returns (fingerprint, keep_id, n_dupes).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextFunctions.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** Rows of `df` with duplicate-by-fingerprint rows removed (keeps min id).
    * Shuffles (fp, id) once, then a semi-join brings back surviving rows.
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exact(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Per-document distinct shingle sets: (id, shingles, n_sh). Tokenizes in
    * its own projection (a lambda-captured tokenizer subtree would re-run
    * per element) and shingles through the codegen'd
    * [[graft.functions.WordShingles]] expression — the interpreted HOF
    * formulation dominated this pipeline's profile.
    *
    * Documents without a shingle are dropped by a filter on the output of
    * an outer `explode` of `[sh]` (NULL when the set is empty), not by a
    * filter on `size(sh)`: Spark pushes a filter on a projected alias
    * below the projection by substituting the alias, which runs the whole
    * tokenize-and-shingle pipeline a second time per row. A predicate on
    * a generator's output can't move below the generator, and the outer
    * form infers no filter of its own (the [[explodeBands]] rule), so the
    * pipeline runs once per row.
    */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int) = {
    graft.functions.TextExpressions.register(df.sparkSession)
    df.select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        array_distinct(call_function(graft.functions.TextExpressions.SHINGLES_FN,
          col("__toks"), lit(n))).as("sh"))
      .select(col("id"),
        explode_outer(when(size(col("sh")) > 0, array(col("sh")))).as("sh"))
      .filter(col("sh").isNotNull)
      .withColumn("n_sh", size(col("sh")))
  }

  /** N-gram Jaccard set-similarity join: all pairs (i<j) with
    * jaccard(shingles_i, shingles_j) >= threshold.
    * Output: (id_i, id_j, jaccard).
    */
  def shingleJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, threshold: Double = 0.4,
                          maxShingleDf: Option[Int] = None): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, n).cache()
    val inv = sets.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
    val invFiltered = maxShingleDf match {
      case None => inv
      case Some(cap) =>
        // stop-shingle guard: drop shingles appearing in more than `cap`
        // docs — they contribute candidates quadratically but little
        // similarity signal.
        val hot = inv.groupBy("s").agg(count(lit(1)).as("df_s"))
          .filter(col("df_s") > cap).select("s")
        inv.join(hot, Seq("s"), "left_anti")
    }
    val a = invFiltered.select(col("s"), col("id").as("id_i"), col("n_sh").as("n_i"))
    val b = invFiltered.select(col("s"), col("id").as("id_j"), col("n_sh").as("n_j"))
    a.join(b, Seq("s")).filter(col("id_i") < col("id_j"))
      .groupBy("id_i", "id_j", "n_i", "n_j")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_i") + col("n_j") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_i", "id_j", "jaccard")
  }

  /** Prefix-filtering exact similarity join (AllPairs/PPJoin family,
    * Bayardo et al. WWW'07 / Xiao et al. WWW'08): the same exact Jaccard ≥ t
    * result as [[shingleJaccardPairs]], but candidate generation only
    * indexes each document's PREFIX — its n − ⌈t·n⌉ + 1 globally-rarest
    * shingles — instead of every shingle. Lemma: if J(A,B) ≥ t then the
    * overlap o ≥ ⌈t·|A|⌉ and the first common shingle under any one global
    * order sits inside both prefixes, so joining prefixes on the shingle
    * loses nothing; everything else is pruning. The global order is
    * document frequency ascending (rarest first, tie-broken by shingle), so
    * exactly the boilerplate shingles that blow up the inverted-index join
    * quadratically are the ones pushed OUT of the prefixes — the exact-
    * result counterpart of the lossy `maxShingleDf` stop-shingle cap.
    *
    * The threshold is a rational tNum/tDen so prefix lengths and the
    * final acceptance test stay in integer arithmetic (⌈t·n⌉ as a DIV,
    * J ≥ t as inter·tDen ≥ union·tNum) — engine-exact, no float ceil of a
    * non-representable product. Candidates additionally pass the length
    * bound min·tDen ≥ max·tNum before verification; verification
    * intersects the two shingle arrays of surviving candidate pairs only.
    *
    * At 100 TB: data-sized shuffles are the (shingle, id) explode for
    * document frequencies and the prefix self-join — the latter carries
    * only prefix entries, Σ df(rare shingles)², a small fraction of the
    * full-index Σ df². Output: (id_i, id_j, jaccard), identical row-for-row
    * to the brute-force join.
    */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                               n: Int = 3, tNum: Int = 2,
                               tDen: Int = 5): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold $tNum/$tDen must be a rational in (0, 1]")
    val sets = shingleSets(df, idCol, textCol, n).cache()
    val inv = sets.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
    val dfreq = inv.groupBy("s").agg(count(lit(1)).as("df_s"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df_s"), col("s"))
    // minimum overlap ⌈t·n⌉ = (n·tNum + tDen − 1) DIV tDen, all integer
    val prefix = inv.join(dfreq, Seq("s"))
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= col("n_sh") -
        expr(s"(n_sh * $tNum + ${tDen - 1}) DIV $tDen") + 1)
    val a = prefix.select(col("s"), col("id").as("id_i"), col("n_sh").as("n_i"))
    val b = prefix.select(col("s"), col("id").as("id_j"), col("n_sh").as("n_j"))
    val cand = a.join(b, Seq("s")).filter(col("id_i") < col("id_j"))
      .filter(least(col("n_i"), col("n_j")) * tDen >=
        greatest(col("n_i"), col("n_j")) * tNum)
      .select("id_i", "id_j").distinct()
    val verified = cand
      .join(sets.select(col("id").as("id_i"), col("sh").as("sh_i")), Seq("id_i"))
      .join(sets.select(col("id").as("id_j"), col("sh").as("sh_j")), Seq("id_j"))
      .select(col("id_i"), col("id_j"),
        size(array_intersect(col("sh_i"), col("sh_j"))).as("inter"),
        size(col("sh_i")).as("n_i"), size(col("sh_j")).as("n_j"))
      .filter(col("inter") * tDen >=
        (col("n_i") + col("n_j") - col("inter")) * tNum)
    verified.select(col("id_i"), col("id_j"),
      (col("inter").cast("double") /
        (col("n_i") + col("n_j") - col("inter")).cast("double")).as("jaccard"))
  }

  /** Shingle *containment* join: pairs (i<j) with
    * |S_i ∩ S_j| / min(|S_i|, |S_j|) >= threshold — the doc-inside-doc
    * detector (a short quote fully contained in a long article scores 1.0
    * here but near 0 on Jaccard). Same inverted-index shape as
    * [[shingleJaccardPairs]]: explode once, self-join on the shingle,
    * count intersections per pair; only (shingle, id) pairs are ever
    * shuffled. Output: (id_i, id_j, containment).
    */
  def shingleContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // cached for the same reason as shingleJaccardPairs: both aliased join
    // sides derive from this relation, and neither CSE nor exchange reuse
    // dedupes differently-projected subtrees — uncached, tokenize+shingle
    // would run twice
    val sets = shingleSets(df, idCol, textCol, n).cache()
    val inv = sets.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
    val a = inv.select(col("s"), col("id").as("id_i"), col("n_sh").as("n_i"))
    val b = inv.select(col("s"), col("id").as("id_j"), col("n_sh").as("n_j"))
    a.join(b, Seq("s")).filter(col("id_i") < col("id_j"))
      .groupBy("id_i", "id_j", "n_i", "n_j")
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_i"), col("n_j")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_i", "id_j", "containment")
  }

  /** LSH parameter-sweep report: for each band count in `bandCounts`
    * (rows per band r = numHashes / b), the candidate-pair volume the
    * banding would produce, how many of those candidates are true pairs
    * (jaccard >= threshold), and the resulting precision/recall against
    * the exact join — the calibration table an engineer reads before
    * picking (b, r) for a 100 TB dedup run, computed in-engine on a
    * sample. Output one row per config:
    * (bands, rows_per_band, n_candidates, n_true_candidates,
    * n_exact_pairs, prec, recall).
    *
    * Uses the md5-derived minhash family (not xxhash64) so every stage —
    * signatures, band keys, candidate set — is reproducible in SQL and
    * the whole report is oracle-checkable; the production path stays
    * [[minhashLshPairs]]. Signatures and the exact pair set are pinned
    * once (localCheckpoint) and reused across configs, so this runs
    * jobs eagerly at build time like the other report queries.
    */
  def lshParameterSweep(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.4,
                        numHashes: Int = 32,
                        bandCounts: Seq[Int] = Seq(16, 8, 4)): DataFrame = {
    require(bandCounts.nonEmpty && bandCounts.forall(b =>
      b > 0 && numHashes % b == 0),
      s"every band count must divide numHashes=$numHashes")
    val md5l = (c: Column) =>
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val sigs = shingleSets(df, idCol, textCol, n)
      .select(col("id"),
        transform(sequence(lit(0), lit(numHashes - 1)),
          k => array_min(transform(col("sh"),
            s => md5l(concat(k.cast("string"), lit(":"), s))))).as("sig"))
      .localCheckpoint()
    val exact = shingleJaccardPairs(df, idCol, textCol, n, threshold)
      .select("id_i", "id_j").localCheckpoint()
    val nExact = exact.count()
    val stats = bandCounts.map { b =>
      val r = numHashes / b
      val keys = sigs.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(b - 1)),
          i => md5(array_join(
            transform(slice(col("sig"), i * r + 1, lit(r)),
              x => x.cast("string")), ",")))).as(Seq("band", "key")))
      val cands = keys.as("a").join(keys.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_i"), col("b.id").as("id_j"))
        .distinct().localCheckpoint()
      (b, r, cands.count(),
        cands.join(exact, Seq("id_i", "id_j"), "left_semi").count())
    }
    val sp = df.sparkSession
    import sp.implicits._
    stats.toDF("bands", "rows_per_band", "n_candidates", "n_true_candidates")
      .withColumn("n_exact_pairs", lit(nExact))
      .withColumn("prec", when(col("n_candidates") === 0, lit(null))
        .otherwise(round(col("n_true_candidates").cast("double") /
          col("n_candidates"), 6)))
      .withColumn("recall", when(lit(nExact) === 0, lit(null))
        .otherwise(round(col("n_true_candidates").cast("double") / nExact, 6)))
      .orderBy(col("bands").desc)
  }

  /** MinHash signature as an array column: sig[k] = min over shingles of
    * xxhash64(k, shingle). Computed entirely as nested array expressions —
    * per-row, no shuffle, no UDF.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      k => array_min(transform(shingleCol, s => xxhash64(k, s))))

  /** Banded LSH keys from a signature: one 64-bit hash per band of r rows,
    * folded with xxhash64 chaining (seeded by the band index so identical
    * row-slices in different bands land in different buckets).
    */
  def lshBands(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => aggregate(slice(sigCol, b * lit(rowsPerBand) + 1, lit(rowsPerBand)),
        xxhash64(b), (acc, v) => xxhash64(acc, v)))

  /** MinHash+LSH near-dup pairs, exact-Jaccard-verified.
    * Candidate generation: posexplode the native band keys into
    * (bandIdx, bandHash) → banded self-join → pairs sharing a bucket.
    * Verification joins shingle sets back and keeps pairs with true
    * jaccard >= threshold, so output precision is exact.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, threshold: Double = 0.4,
                      numHashes: Int = 32, bands: Int = 16): DataFrame = {
    // Banded keys via the native per-row expression (r15): bit-identical
    // to the old explode + 32 × min(xxhash64) aggregates (that form's
    // rationale — HOFs evaluate interpreted — no longer applies to a
    // compiled expression), and the signature exchange disappears from
    // the plan. The keys are computed once per doc INSIDE the cached
    // index: both sides of the self-join below explode the cached column,
    // where a key expression above the cache would be evaluated by each.
    val sets = lshIndex(df, idCol, textCol, n, numHashes, bands).cache()
    val banded = sets
      .select(col("id"), posexplode(col("bands")).as(Seq("band_i", "band_h")))
    // Banded self-join for candidate pairs. The bucket-gather alternative
    // (groupBy bucket → collect_list → double-explode) looks like one fewer
    // exchange read, but measured 1.4-1.8x SLOWER at sf0.1: collect_list
    // drops the aggregate out of whole-stage codegen (ObjectHashAggregate)
    // and every exploded row carries the full ids array, while this form's
    // two exchange reads reuse one shuffle (ReusedExchange) and the join +
    // distinct stay codegen'd end to end.
    val x = banded.select(col("band_i"), col("band_h"), col("id").as("id_i"))
    val y = banded.select(col("band_i"), col("band_h"), col("id").as("id_j"))
    val candidates = x.join(y, Seq("band_i", "band_h"))
      .filter(col("id_i") < col("id_j"))
      .select("id_i", "id_j").distinct()
    val withSets = candidates
      .join(sets.select(col("id").as("id_i"), col("sh").as("sh_i"), col("n_sh").as("n_i")), "id_i")
      .join(sets.select(col("id").as("id_j"), col("sh").as("sh_j"), col("n_sh").as("n_j")), "id_j")
    withSets
      .withColumn("inter", size(array_intersect(col("sh_i"), col("sh_j"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_i") + col("n_j") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_i", "id_j", "jaccard")
  }

  /** Corpus-side LSH dedup index: one row per doc carrying the exact
    * shingle set, its size, and the banded minhash keys. This is the
    * artifact an incremental pipeline persists ONCE (parquet, partitioned
    * or bucketed by band hash after exploding `bands`) so nightly batches
    * can be near-dup-checked against a 100 TB corpus without re-reading
    * or re-hashing any corpus text — the corpus contributes only an index
    * probe, never a second signature pass.
    *
    * Same band keys as [[minhashLshPairs]]: one narrow projection of the
    * shingle sets through the native `graft_minhash_bands(sh, numHashes,
    * bands)` expression ([[graft.functions.MinhashBands]]), so the build
    * has no signature exchange and no join — the shingle set and its
    * band keys come out of the same row. A probe MUST use the same
    * (n, numHashes, bands) the index was built with — band keys are
    * seeded by band index, so mismatched parameters silently produce zero
    * candidates.
    *
    * Output: (id, sh, n_sh, bands) with `bands(b)` = xxhash64-folded key
    * of signature rows [b*r, (b+1)*r).
    */
  def lshIndex(df: DataFrame, idCol: String, textCol: String,
               n: Int = 3, numHashes: Int = 32, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // One narrow map-only projection (r15): the banded keys come from the
    // native [[graft.functions.MinhashBands]] expression — bit-identical
    // hashes to the old explode → 32 × min(xxhash64) aggregates → join
    // form, WITHOUT the exchange, the join, or the double evaluation of
    // the shingle sets that form paid per index build (and the HOF
    // per-row fold it replaced evaluated interpreted — the same penalty
    // the PQ expressions removed in r14).
    graft.functions.MinhashExpressions.register(df.sparkSession)
    shingleSets(df, idCol, textCol, n)
      .select(col("id"), col("sh"), col("n_sh"),
        call_function(graft.functions.MinhashExpressions.BANDS_FN,
          col("sh"), lit(numHashes), lit(bands)).as("bands"))
  }

  /** (band_i, band_h) rows of a band-key column, for an equi-join on both.
    * The OUTER form on purpose: for an inner `posexplode` over a column
    * Spark infers `isnotnull(bands) AND size(bands) > 0` and pushes it
    * below the projection that computes the keys, evaluating
    * `graft_minhash_bands` (and the shingle pipeline under it) a second
    * time per row. The outer form infers nothing; the only rows it adds
    * carry NULL keys (a doc without shingles), which no equi-join matches,
    * so the joined answer is the same.
    */
  private def explodeBands(bands: Column): Column =
    posexplode_outer(bands).as(Seq("band_i", "band_h"))

  /** Incremental near-dup matching: a new batch probed against a prebuilt
    * [[lshIndex]] of the standing corpus. THE 100 TB dedup shape — when
    * 0.1% of the data arrives per day, re-running pair dedup over the full
    * corpus is a 1000× waste; instead the corpus is indexed once and each
    * batch (a) LSH-probes the stored band keys for candidates and
    * (b) exact-Jaccard-verifies candidates against the stored shingle
    * sets, so output precision is exact and recall is the band recall of
    * the index parameters (choose them with [[lshParameterSweep]]).
    *
    * Shuffle shape: the batch is banded and joined against the exploded
    * index bands on (band_i, band_h) — with the index stored
    * partitioned/bucketed by band hash, only the batch moves. The verify
    * join shuffles candidate ids only. Nothing in the plan scales with
    * corpus × batch.
    *
    * `numHashes`/`bands`/`n` must match the index build (see [[lshIndex]]).
    * Output: (batch_id, corpus_id, jaccard) for pairs with true
    * jaccard >= threshold.
    */
  def incrementalLshMatches(index: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String,
                            n: Int = 3, threshold: Double = 0.4,
                            numHashes: Int = 32, bands: Int = 16): DataFrame = {
    val bIdx = lshIndex(batch, idCol, textCol, n, numHashes, bands)
    val probe = bIdx.select(col("id").as("batch_id"),
      explodeBands(col("bands")))
    val stored = index.select(col("id").as("corpus_id"),
      explodeBands(col("bands")))
    val candidates = probe.join(stored, Seq("band_i", "band_h"))
      .select("batch_id", "corpus_id").distinct()
    candidates
      .join(bIdx.select(col("id").as("batch_id"),
        col("sh").as("sh_b"), col("n_sh").as("n_b")), "batch_id")
      .join(index.select(col("id").as("corpus_id"),
        col("sh").as("sh_c"), col("n_sh").as("n_c")), "corpus_id")
      .withColumn("inter", size(array_intersect(col("sh_b"), col("sh_c"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_b") + col("n_c") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "jaccard")
  }

  /** Streaming variant of [[incrementalLshMatches]]: the arriving batch is
    * a STREAM, probed in-flight against the static index — the ingest-hop
    * shape where near-dup flags attach before data ever lands. Every
    * stream-side stage is append-mode legal: the band keys come from the
    * per-row native `graft_minhash_bands` expression, the same one the
    * batch path's [[lshIndex]] calls (no aggregate, so no streaming
    * aggregation), candidates come from a stream-static equi-join on
    * (band, key) with the shingle set carried on the static side (one
    * join, not two), and the multi-band duplicate collapse is a
    * `dropDuplicates` on the pair key (the
    * [[graft.streaming.EventStreams]] dedup state shape; bound it with a
    * watermark on an event-time column when the stream is unbounded —
    * AvailableNow replays are finite).
    *
    * Output matches [[incrementalLshMatches]] row for row: (batch_id,
    * corpus_id, jaccard) at true jaccard >= threshold.
    */
  def incrementalLshMatchesStream(index: DataFrame, batch: DataFrame,
                                  idCol: String, textCol: String,
                                  n: Int = 3, threshold: Double = 0.4,
                                  numHashes: Int = 32,
                                  bands: Int = 16): DataFrame = {
    val probe = lshIndex(batch, idCol, textCol, n, numHashes, bands)
      .select(col("id").as("batch_id"), col("sh").as("sh_b"),
        col("n_sh").as("n_b"), explodeBands(col("bands")))
    val stored = index.select(col("id").as("corpus_id"),
      col("sh").as("sh_c"), col("n_sh").as("n_c"),
      explodeBands(col("bands")))
    probe.join(stored, Seq("band_i", "band_h"))
      .withColumn("inter", size(array_intersect(col("sh_b"), col("sh_c"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_b") + col("n_c") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "jaccard")
      .dropDuplicates("batch_id", "corpus_id")
  }

  /** Connected components over a near-dup pair list — the final stage of a
    * dedup pipeline (pairs → duplicate clusters → one representative each).
    * Iterative min-label propagation: each node adopts the smallest label in
    * its neighborhood until fixpoint. The per-iteration `localCheckpoint`
    * breaks lineage — without it, iterative self-joins stack plans until
    * analysis time explodes. Converges in O(diameter) rounds (near-dup
    * clusters are shallow); each round is one shuffle join + aggregate, the
    * same plan shape large-graph CC (small-star/large-star) builds on.
    * Output: (node, cluster) with cluster = min node id of the component.
    *
    * If the fixpoint is not reached within `maxIter`, the current labels are
    * plausible-looking but wrong — so this throws (`strict = true`, default)
    * or logs a loud warning (`strict = false`) instead of silently returning.
    */
  def connectedComponents(pairs: DataFrame, iCol: String, jCol: String,
                          maxIter: Int = 20, strict: Boolean = true): DataFrame = {
    // the long cast would silently null out non-numeric ids (turning the
    // downstream dedup into a no-op), so refuse them up front
    Seq(iCol, jCol).foreach { c =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"connectedComponents needs integral node ids; '$c' is $dt — " +
          "map ids to longs first (e.g. zipWithIndex or a dense id join)")
    }
    val edges = pairs.select(col(iCol).cast("long").as("a"), col(jCol).cast("long").as("b"))
    val sym = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(eager = true)
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(eager = true)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val neighborMin = sym.join(labels, sym("b") === labels("node"))
        .groupBy(col("a")).agg(min(col("label")).as("nl"))
      val updated = labels.as("l")
        .join(neighborMin.as("n"), col("l.node") === col("n.a"), "left")
        .select(col("l.node").as("node"),
          least(col("l.label"), coalesce(col("n.nl"), col("l.label"))).as("label"))
        .localCheckpoint(eager = true)
      val changed = updated.as("u")
        .join(labels.as("o"), col("u.node") === col("o.node"))
        .filter(col("u.label") =!= col("o.label")).count()
      labels = updated
      done = changed == 0
      iter += 1
    }
    if (!done) {
      val msg = s"connectedComponents did not converge in $maxIter iterations" +
        " — labels are incomplete (graph diameter exceeds maxIter)"
      if (strict) throw new IllegalStateException(msg)
      else System.err.println(s"[graft] WARNING: $msg")
    }
    labels.select(col("node"), col("label").as("cluster"))
  }

  /** The whole near-dedup pipeline as one call: MinHash-LSH candidate pairs
    * → exact-Jaccard verify → connected components → keep each cluster's
    * min-id representative (plus every unclustered doc). The anti join
    * carries only ids; document bodies never shuffle.
    *
    * Components run through [[Graph.starConnectedComponents]] — the
    * O(log² n)-round star-contraction path is the 100 TB default, with
    * [[connectedComponents]]'s O(diameter) label propagation kept as the
    * interchangeable cross-check (the two are spec- and oracle-checked
    * equal; see the `d_clusters` / `d_cc_star` query pair).
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.4,
                         numHashes: Int = 128, bands: Int = 64): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, n, threshold, numHashes, bands)
    val cc = Graph.starConnectedComponents(pairs, "id_i", "id_j")
    val losers = cc.filter(col("node") =!= col("cluster"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dropNearDuplicates]] with EXACT candidate generation: the
    * prefix-filtering join supplies provably-complete pairs, so the whole
    * near-dedup pipeline (pairs → star-CC → keep representatives) is
    * deterministic-exact end to end — no LSH recall curve to reason
    * about. Costs more than the banded path when near-dup families are
    * pervasive (the prefix index still touches every rare shingle), which
    * is the tradeoff: LSH when you can tolerate the (1-(1-j^r)^b) recall
    * bound, prefixes when the dedup must be a proof.
    */
  def dropNearDuplicatesExact(df: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, tNum: Int = 2,
                              tDen: Int = 5): DataFrame = {
    val pairs = prefixFilterJaccardPairs(df, idCol, textCol, n, tNum, tDen)
    val cc = Graph.starConnectedComponents(pairs, "id_i", "id_j")
    val losers = cc.filter(col("node") =!= col("cluster"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embeddings (deterministic k-means seeding from
    * [[Clustering.seedCentroids]]), then within each cluster drop every
    * vector that is >= `threshold` cosine-similar to a cluster-mate that
    * outranks it. Rank follows the paper's keep-the-outliers rule: LOWER
    * similarity to the centroid wins (prototypical members of a dense
    * semantic clump are dropped, the clump's fringe survives); ties break
    * to the smaller id. Because outranking is a strict total order inside
    * a cluster, each cluster's top-ranked vector always survives, and no
    * two surviving cluster-mates are >= `threshold` similar (the
    * lower-ranked one of such a pair would have been dominated).
    *
    * Scale shape: the centroid set is k literal vectors, so assignment is
    * a map-only pass ([[Clustering.assign]]); the only data-sized shuffle
    * is the self-join on `centroid_id`, which blocks the O(n²) pair scan
    * down to Σ|cluster|² — choose k ~ √n (the paper's regime) so the
    * expected per-cluster work is linear in n. The dominance filter is a
    * single pass over within-cluster pairs — no iteration, unlike the
    * connected-components path in [[dropNearDuplicates]].
    *
    * Output: one row per vector — (id, centroid_id, cent_sim,
    * kept 0/1) — the full disposition manifest, not just survivors.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, threshold: Double,
                    roundTo: Int = 6): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    val cos = (a: Column, b: Column) =>
      call_function(graft.functions.VectorExpressions.COSINE_FN, a, b)
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .join(Clustering.assign(df, idCol, vecCol, centroids, roundTo), Seq("id"))
    val x = assigned.select(col("centroid_id"), col("id").as("id_i"),
      col("sim").as("sim_i"), col("__v").as("__vi"))
    val y = assigned.select(col("centroid_id"), col("id").as("id_j"),
      col("sim").as("sim_j"), col("__v").as("__vj"))
    val losers = x.join(y, Seq("centroid_id"))
      .filter(struct(col("sim_i"), col("id_i")) <
        struct(col("sim_j"), col("id_j")))
      .filter(round(cos(col("__vi"), col("__vj")), roundTo) >= threshold)
      .select(col("id_j").as("id")).distinct()
    assigned.join(losers.withColumn("__lost", lit(1L)), Seq("id"), "left")
      .select(col("id"), col("centroid_id"), col("sim").as("cent_sim"),
        when(col("__lost").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** Character-level duplicated-span scan (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" signal,
    * arXiv:2107.06499, at span granularity): stride-anchored windows of
    * `spanLen` characters, fingerprinted, counted across documents. A
    * span is duplicated when the identical character run appears in >= 2
    * distinct documents; the per-doc duplicated fraction is the curation
    * signal (high fraction = boilerplate/mirror content).
    *
    * Scale shape: windows are generated scan-locally
    * (sequence → explode → substring, all codegen); the only shuffles
    * carry (16-byte md5 fingerprint, doc_id) — never the span text, and
    * never the documents. Stride `stride` bounds the window count at
    * len/stride per doc (stride=spanLen/2 gives half-overlap coverage: any
    * duplicated run of >= 1.5·spanLen chars is guaranteed to contain an
    * anchored window on both sides). md5 rather than xxhash64 because at
    * corpus scale a 64-bit space WILL collide — and its 128 bits are also
    * what makes the result replayable in any engine with md5().
    *
    * Output: one row per input document —
    * (doc_id, n_spans, n_dup, dup_frac) — docs shorter than `spanLen`
    * report 0 spans and NULL dup_frac.
    */
  def duplicateSpanStats(df: DataFrame, idCol: String, textCol: String,
                         spanLen: Int = 40, stride: Int = 20): DataFrame = {
    require(spanLen > 0 && stride > 0, "spanLen and stride must be positive")
    val fps = df.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .filter(length(col("__t")) >= spanLen)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("__t")) - lit(spanLen - 1),
          lit(stride))).as("pos"), col("__t"))
      .select(col("doc_id"),
        md5(expr(s"substring(__t, pos, $spanLen)").cast("binary")).as("fp"))
    val perFp = fps.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("nd"))
    val perDoc = fps.join(perFp, "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
    df.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_spans"), lit(0L)) > 0,
          round(col("n_dup").cast("double") /
            col("n_spans").cast("double"), 6)).as("dup_frac"))
  }

  /** Per-document SimHash signatures with a pluggable token hasher —
    * explode + `bits` conditional-sum aggregates (codegen'd, map-side
    * partial, order-insensitive integer sums). The default xxhash64 is the
    * fast path; an md5-derived hasher makes the signature reproducible in
    * engines without xxhash64 (the d_simhash_md5 oracle). Docs with no
    * tokens produce no row. Output: (id, sig).
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        bits: Int = 64,
                        hasher: Column => Column = c => xxhash64(c)): DataFrame = {
    require(bits >= 1 && bits <= 64, "bits in [1,64]")
    val bitCols = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1).otherwise(-1))
        .as(s"b$b"))
    val sigExpr = (0 until bits).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    df.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .select(col("id"), hasher(col("t")).as("h"))
      .groupBy("id").agg(bitCols.head, bitCols.tail: _*)
      .select(col("id"), sigExpr.as("sig"))
  }

  /** SimHash near-clone pairs with Hamming distance <= maxHamming, found by
    * banding the 64-bit signature into maxHamming+1 chunks (pigeonhole: any
    * pair within distance k agrees on at least one of k+1 chunks).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    val width = 64 / chunks
    // SimHash via explode + 64 codegen'd conditional-sum aggregates (see the
    // MinHash note above on interpreted HOFs); integer sums are
    // order-insensitive so the shuffle-order nondeterminism is harmless.
    val bitCols = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1).otherwise(-1))
        .as(s"b$b"))
    val sigExpr = (0 until 64).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    val sigs = df
      .select(col(idCol).as("id"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
      .groupBy("id").agg(bitCols.head, bitCols.tail: _*)
      .select(col("id"), sigExpr.as("sig"))
      .cache()
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(chunks - 1)),
        c => call_function("shiftright", col("sig"), c * lit(width))
          .bitwiseAND(lit((1L << width) - 1)))).as(Seq("chunk_i", "chunk_v")))
    val x = banded.select(col("chunk_i"), col("chunk_v"),
      col("id").as("id_i"), col("sig").as("sig_i"))
    val y = banded.select(col("chunk_i"), col("chunk_v"),
      col("id").as("id_j"), col("sig").as("sig_j"))
    x.join(y, Seq("chunk_i", "chunk_v"))
      .filter(col("id_i") < col("id_j"))
      .select(col("id_i"), col("id_j"),
        bit_count(col("sig_i").bitwiseXOR(col("sig_j"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Fuzzy-dup verification: shingle-Jaccard candidate pairs confirmed by
    * edit distance on a normalized-text prefix — the "cheap candidate
    * generation, expensive verification on survivors only" two-phase shape.
    * The O(prefixLen²) levenshtein DP runs once per *candidate pair* (tiny
    * vs the corpus), never all-pairs; the two id joins are plain hash
    * exchanges on the id.
    */
  def fuzzyVerifyPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.4,
                       prefixLen: Int = 60): DataFrame = {
    val pairs = shingleJaccardPairs(df, idCol, textCol, n, threshold)
    val norm = df.select(col(idCol).as("__nid"),
      substring(graft.functions.TextFunctions.normText(col(textCol)),
        1, prefixLen).as("__nt"))
    pairs
      .join(norm.select(col("__nid").as("id_i"), col("__nt").as("__nt_i")),
        "id_i")
      .join(norm.select(col("__nid").as("id_j"), col("__nt").as("__nt_j")),
        "id_j")
      .select(col("id_i"), col("id_j"), round(col("jaccard"), 6).as("jaccard"),
        levenshtein(col("__nt_i"), col("__nt_j")).as("lev"))
  }
}
