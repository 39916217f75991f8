package graft

import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.sql.{Column, DataFrame}

/** User-facing fluent surface: every operator family as extension
  * syntax on plain DataFrames, so adopting the library is
  * `import graft.Graft._` and method calls on the frames you already
  * have — no engine-specific session or IR. Each method delegates to
  * the (individually documented, oracle-checked) ops.* functions;
  * this object adds nothing but ergonomics.
  *
  * Operators that materialize shared intermediates (LSH bands,
  * ordered shingle tables) register them in [[Caches]]; long-lived
  * services should call `Caches.release("text"|"vec")` when a
  * corpus's queries are done, exactly as `Bench` does per family.
  *
  * {{{
  * import graft.Graft._
  * docs.dedupExact
  * docs.nearDupCandidates(0.2)          // MinHash + LSH
  * docs.jaccardPairs(0.5)               // exact, prefix-filtered
  * docs.dupClusters(docs.jaccardPairs(0.5))
  * docs.chunked(window = 512, stride = 384)
  * docs.redactPii
  * embs.cosineTopK(queryId = 42L, k = 10)
  * embs.quantizedInt8
  * }}}
  */
object Graft {

  /** Release every shared intermediate the operators registered
    * (persisted shingle/band tables, fitted models). Long-lived
    * services call this when a corpus's queries are done — the
    * facade's pair/near-dup methods persist shared state per call,
    * and nothing else unpersists it.
    */
  def release(): Unit = Caches.releaseAll()

  implicit class DocOps(private val docs: DataFrame) extends AnyVal {
    def dedupExact: DataFrame = ops.Text.exactDedup(docs)
    def dupGroups: DataFrame = ops.Text.exactDupGroups(docs)
    def nearDupCandidates(threshold: Double): DataFrame =
      ops.Text.minhashCandidates(docs, threshold)
    /** Good-Turing counts-of-counts smoothing table with exact-ppm
      * unseen-mass estimate. */
    def goodTuring: DataFrame = ops.Text.goodTuring(docs)
    /** Interpolated Kneser–Ney bigram table (D=3/4, exact ppm). */
    def kneserNeyBigrams(topN: Int = 50): DataFrame =
      ops.Text.kneserNeyBigrams(docs, topN)
    /** Burrows' Delta stylometric distance between sources. */
    def burrowsDelta(topK: Int = 20): DataFrame =
      ops.Text.burrowsDelta(docs, topK)
    /** Cohen's kappa agreement of two boolean keep-columns on this
      * frame — chance-corrected filter-redundancy audit. */
    def filterAgreementKappa(
        aCol: String = "keep_a",
        bCol: String = "keep_b"
    ): DataFrame = ops.Text.filterAgreementKappa(docs, aCol, bCol)
    /** (bands, rows) LSH layout frontier in exact q20 math — pure
      * configuration math, the corpus is only the session source. */
    def lshTuningCurve(
        configs: Seq[(Int, Int)] = Seq(
          (128, 1), (64, 2), (32, 4), (16, 8), (8, 16), (4, 32),
          (16, 2), (16, 4), (8, 4)),
        jStepMilli: Int = 25
    ): DataFrame =
      ops.Text.lshTuningCurve(docs.sparkSession, configs, jStepMilli)
    def jaccardPairs(threshold: Double): DataFrame =
      ops.Text.jaccardExactPairs(docs, threshold)
    /** Measured banded-MinHash recall per exact-jaccard decile vs a
      * complete `truthPairs` ground truth (md5 hash family). */
    def minhashRecallAudit(
        truthPairs: DataFrame,
        bands: Int = ops.Text.LshBands,
        rows: Int = ops.Text.LshRows
    ): DataFrame =
      ops.Text.minhashRecallAudit(docs, truthPairs, bands, rows)
    /** Candidate-precision audit of the banded MinHash layout:
      * exact-jaccard decile profile of the candidate set. */
    def minhashPrecisionAudit(
        bands: Int = ops.Text.LshBands,
        rows: Int = ops.Text.LshRows
    ): DataFrame =
      ops.Text.minhashPrecisionAudit(docs, bands, rows)
    /** Per-source unigram KL divergence from the corpus (q20). */
    def sourceUnigramKl: DataFrame = ops.Text.sourceUnigramKl(docs)
    def clusterSurvivors(clusters: DataFrame): DataFrame =
      ops.Text.dupClusterSurvivors(docs, clusters)
    /** Per-source dedup TOKEN ledger over a cluster assignment:
      * surviving vs dropped training tokens by source. */
    def sourceDedupTokens(clusters: DataFrame): DataFrame =
      ops.Text.sourceDedupTokens(docs, clusters)
    /** Soft-dedup ledger: every doc kept at weight 1/cluster_size —
      * per-source effective (q20) token mass vs the hard keep rule. */
    def softDedupWeights(clusters: DataFrame): DataFrame =
      ops.Text.softDedupWeights(docs, clusters)
    /** TF-weighted Jaccard over a candidate pair graph: multiset
      * min/max token mass per near-dup pair. */
    def weightedJaccard(pairs: DataFrame): DataFrame =
      ops.Text.weightedJaccard(docs, pairs)
    /** Triangle-closure audit of a near-dup pair graph — the
      * is-component-dedup-safe evidence table. */
    def dupTransitivity(pairs: DataFrame): DataFrame =
      ops.Text.dupTransitivity(pairs)
    /** Cross-modality dedup contingency: text pair graph vs
      * semantic pair graph agreement (doc_id ≡ vec_id). */
    def dupModalityAgreement(
        textPairs: DataFrame, semanticPairs: DataFrame): DataFrame =
      ops.Text.dupModalityAgreement(textPairs, semanticPairs)
    /** Shingle-width sensitivity of the exact pair engine: pair
      * counts and mean Jaccard per candidate width. */
    def shingleWidthCurve(
        widths: Seq[Int] = Seq(2, 3, 5),
        threshold: Double = 0.5): DataFrame =
      ops.Text.shingleWidthCurve(docs, widths, threshold)
    /** Bloom pre-dedup false-positive audit: how many unique docs
      * an mBits/kHashes streaming gate would wrongly drop. */
    def bloomDedupFpr(
        mBits: Int = 4096, kHashes: Int = 3): DataFrame =
      ops.Text.bloomDedupFpr(docs, mBits, kHashes)
    /** DP per-source counts via the Laplace mechanism with
      * engine-replayable hashed-uniform noise. */
    def dpNoisyCounts(epsilon: Double = 1.0): DataFrame =
      ops.Text.dpNoisyCounts(docs, epsilon)
    /** GSP sequential patterns: gap-allowed token triples contained
      * in ≥ minSupportPpm of documents, Apriori-pruned. */
    def seqPatterns(minSupportPpm: Long = 350000L): DataFrame =
      ops.Text.seqPatterns(docs, minSupportPpm)
    /** Resharding churn: consistent-hash ring vs mod-hash moved
      * fraction when the shard count grows S→S+1. */
    def ringRebalance(
        scenarios: Seq[(Int, Int)] = Seq((8, 9), (32, 33)),
        vnodesPerShard: Int = 16): DataFrame =
      ops.Text.ringRebalance(docs, scenarios, vnodesPerShard)
    def scrubbedDuplicateBlocks(blockTokens: Int = 20): DataFrame =
      ops.Text.scrubDuplicatedBlocks(docs, blockTokens)
    /** Line-frequency boilerplate removal (CCNet/C4 shape): drop
      * every line whose normalized form appears in ≥ minDf docs. */
    def boilerplateRemoved(minDf: Long = 50L): DataFrame =
      ops.Text.removeBoilerplate(docs, minDf)
    def dupClusters(pairs: DataFrame): DataFrame =
      ops.Text.dupClusters(docs, pairs)
    /** Zero-iteration connected components of a partition-confined
      * pair graph (`pairsWithPart` carries (doc_a, doc_b, part) with
      * both endpoints in `part`) — the one-shuffle union-find
      * sibling of [[dupClusters]]. */
    def dupClustersPartitioned(pairsWithPart: DataFrame): DataFrame =
      ops.Text.dupClustersPartitioned(docs, pairsWithPart)
    /** Bradley–Terry source strengths from pairwise quality
      * preferences (rank-sum sufficient statistics, exact q20 MM
      * rounds). */
    def bradleyTerry(iters: Int = 3): DataFrame =
      ops.Text.bradleyTerry(docs, iters)
    /** Source-pair duplicate matrix over a precomputed near-dup
      * pair graph: who copies from whom. */
    def sourceDupMatrix(pairs: DataFrame): DataFrame =
      ops.Text.sourceDupMatrix(docs, pairs)
    def chunked(window: Int = 50, stride: Int = 40): DataFrame =
      ops.Text.chunkDocs(docs, window, stride)
    /** Chunk-level dedup profile: per doc, corpus-novel vs already-
      * seen context windows. */
    def chunkDedup(window: Int = 50, stride: Int = 40): DataFrame =
      ops.Text.chunkDedup(docs, window, stride)
    /** Hill tail index of the doc-length distribution (top-k,
      * exact q20 ln terms). */
    def lengthTailIndex(k: Int = 100): DataFrame =
      ops.Text.lengthTailIndex(docs, k)
    /** Tokenizer fertility per language: tokens per MB-byte plus
      * token/byte corpus shares. */
    def tokenFertility(): DataFrame =
      ops.Text.tokenFertility(docs)
    /** Sentence-aware greedy chunking: cuts at `[.!?]` sentence
      * boundaries, row-local HOF fold — no shuffle until the rollup.
      */
    def sentenceChunked(budgetTokens: Int = 48): DataFrame =
      ops.Text.sentenceChunks(docs, budgetTokens)
    /** Content-defined chunking: boundaries from a sliding-window
      * hash mask, robust to upstream edits.
      */
    def contentChunked(
        window: Int = 16,
        maskBits: Int = 6
    ): DataFrame = ops.Text.contentDefinedChunks(docs, window, maskBits)
    /** Expects CHUNK rows (doc_id, chunk_id, n_tokens) — i.e. the
      * output of [[chunked]]: `docs.chunked().packedChunks()`.
      */
    def packedChunks(seqTokens: Int = 512, nBuckets: Int = 8): DataFrame =
      ops.Text.packChunks(docs, seqTokens, nBuckets)
    /** First-fit (no-straddle) packing — chunks never span a
      * sequence boundary; expects chunk rows like [[packedChunks]].
      */
    def packedChunksFirstFit(
        seqTokens: Int = 512,
        nBuckets: Int = 8
    ): DataFrame = ops.Text.packChunksFirstFit(docs, seqTokens, nBuckets)
    def duplicatedSpans(spanTokens: Int = 20): DataFrame =
      ops.Text.duplicatedSpans(docs, spanTokens)
    def redactPii: DataFrame = ops.Text.piiRedact(docs)
    def repetitionSignals: DataFrame = ops.Text.repetitionStats(docs)
    def qualityScored: DataFrame = ops.Text.qualityScore(docs)
    /** Per-source percentile-rank calibration of the quality score
      * (exact milli rank position inside each source). */
    def qualityRankNormalized: DataFrame =
      ops.Text.qualityRankNormalize(docs)
    /** Windowed co-occurrence PMI top-N (exact q20-ln integers). */
    def windowCooccurrencePmi(window: Int = 5,
        minPairCount: Long = 5L, topN: Int = 50): DataFrame =
      ops.Text.windowCooccurrencePmi(docs, window, minPairCount, topN)
    /** Source-pair TF-IDF cosine matrix (integer weights, exact
      * DECIMAL dots/norms, milli cosine). */
    def sourceTfidfCosine(): DataFrame =
      ops.Text.sourceTfidfCosine(docs)
    /** Church/Gale token burstiness (cf/df milli, top-N). */
    def tokenBurstiness(minDf: Long = 3L, topN: Int = 50): DataFrame =
      ops.Text.tokenBurstiness(docs, minDf, topN)
    /** Template-head registry: shared prefixes with doc/source
      * reach (the boilerplate-template precursor). */
    def templateHeads(headLen: Int = 40, minDocs: Long = 2L,
        topN: Int = 50): DataFrame =
      ops.Text.templateHeads(docs, headLen, minDocs, topN)
    /** Quality-filter yield curve: doc/token mass kept per
      * value-bucket threshold (exact ppm). */
    def filterYieldCurve(): DataFrame =
      ops.Text.filterYieldCurve(docs)
    /** Duplicate-cluster quality bias over a precomputed cluster
      * assignment: is dedup also a quality filter? */
    def dupQualityBias(clusters: DataFrame): DataFrame =
      ops.Text.dupQualityBias(clusters, docs)
    /** Gopher/MassiveText rule-bundle gate: exact ppm/milli flags. */
    def gopherRuled: DataFrame = ops.Text.gopherRules(docs)
    /** Token-distribution Shannon entropy (exact q20 integers). */
    def tokenEntropy: DataFrame = ops.Text.tokenEntropy(docs)
    /** Snapshot diff against a newer corpus version (by content
      * hash): added / removed / changed / unchanged per doc_id. */
    def corpusDiffTo(newDocs: DataFrame): DataFrame =
      ops.Text.corpusDiff(docs, newDocs)
    /** Canonical normalization (control chars, whitespace, case,
      * accent folding) — run before hashing/dedup. */
    def normalized: DataFrame = ops.Text.normalizeText(docs)
    /** Flesch-style reading-ease signal (exact integer counts +
      * milli-point score). */
    def readabilityScored: DataFrame = ops.Text.readability(docs)
    /** Out-of-vocabulary rate vs the corpus' top-V token vocabulary
      * (exact integer ppm). */
    def oovRated(vocabSize: Int): DataFrame =
      ops.Text.oovRate(docs, vocabSize)
    /** Per-source curation profile: docs, langs, exact-dup docs,
      * token volume, mean length. */
    def sourceProfiled: DataFrame = ops.Text.sourceProfile(docs)
    /** Per-source n-gram diversity (template-farm detector, exact
      * integer ppm). */
    def ngramDiversityBySource(n: Int = 3): DataFrame =
      ops.Text.ngramDiversity(docs, n)
    /** Term-denylist gate (single compiled word-boundary regex);
      * `keep = false` returns the rejected docs with the matched
      * term. */
    def blocklistFiltered(
        terms: Seq[String], keep: Boolean = true): DataFrame =
      ops.Text.blocklistFilter(docs, terms, keep)
    /** Asymmetric shingle-containment pairs (fragment-in-page). */
    def containmentPairs(threshold: Double): DataFrame =
      ops.Text.containmentPairs(docs, threshold)
    /** Canonical rare-first ordered shingle table — build (and
      * persist) once, feed every prefix-filter pair predicate. */
    def orderedShingles: DataFrame = ops.Text.orderedShingles(docs)
    /** Jaccard pairs over a prebuilt [[orderedShingles]] table (the
      * receiver IS the ordered table). */
    def jaccardPairsOverOrdered(threshold: Double): DataFrame =
      ops.Text.jaccardPairsOverOrdered(docs, threshold)
    /** Containment pairs over a prebuilt [[orderedShingles]] table
      * (the receiver IS the ordered table). */
    def containmentPairsOverOrdered(threshold: Double): DataFrame =
      ops.Text.containmentPairsOverOrdered(docs, threshold)
    /** Weighted sample-without-replacement (Efraimidis–Spirakis). */
    def weightedSample(k: Int, weight: Column): DataFrame =
      ops.Text.weightedSample(docs, k, weight)
    /** Cross-source containment provenance matrix over a pair set. */
    def sourceContainment(pairs: DataFrame): DataFrame =
      ops.Text.sourceContainment(docs, pairs)
    /** Shard-local dedup loss over a pair set (the receiver IS the
      * pair graph): pairs missed per candidate hash-shard count. */
    def shardDedupLoss(
        shardCounts: Seq[Int] = Seq(2, 8, 32)): DataFrame =
      ops.Text.shardDedupLoss(docs, shardCounts)
    /** Cross-language dup affinity over a pair set: observed vs
      * independence-expected pair share per lang cell. */
    def langDupAffinity(pairs: DataFrame): DataFrame =
      ops.Text.langDupAffinity(docs, pairs)
    /** Per-doc tf-idf keywords (q20-integer idf, per-doc top-k). */
    def tfidfKeywords(k: Int): DataFrame =
      ops.Text.tfidfKeywords(docs, k)
    /** Quality-curriculum phase assignment (exact-rank twin). */
    def curriculumPhases(nPhases: Int = 3): DataFrame =
      ops.Text.curriculumPhases(docs, nPhases)
    /** Corpus Zipf audit: OLS log-log rank-frequency slope. */
    def zipfAudit: DataFrame = ops.Text.zipfAudit(docs)
    /** Language-ID confusion matrix (label x guess, exact ppm). */
    def langConfusion: DataFrame = ops.Text.langConfusion(docs)
    /** Dedup impact histogram (the receiver IS a cluster
      * assignment, e.g. [[dupClusters]]' output). */
    def dedupImpact: DataFrame = ops.Text.dedupImpact(docs)
    /** Transitive over-merge audit (the receiver IS a cluster
      * assignment; pass the direct near-dup pair graph). */
    def chainContamination(
        directPairs: DataFrame,
        maxClusterSize: Int = 64
    ): DataFrame =
      ops.Text.chainContamination(docs, directPairs, maxClusterSize)
    /** Leakage-safe split: the split draw keyed by near-dup cluster
      * so no duplicate pair straddles the eval boundary. */
    def leakageSafeSplitBy(
        clusters: DataFrame,
        splits: Seq[(String, Double)] =
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
        salt: String = "split"
    ): DataFrame = ops.Text.leakageSafeSplit(docs, clusters, splits, salt)
    /** PSI quality-distribution drift of this corpus (as reference)
      * against a newer version. */
    def qualityDriftTo(cur: DataFrame, nBuckets: Int = 10): DataFrame =
      ops.Text.qualityDrift(docs, cur, nBuckets)
    /** Audit a mixture recipe (ppm weights, token budget): available
      * vs target tokens, epoch counts, oversampling flags. */
    def mixtureEpochPlan(
        weightsPpm: Seq[(String, Long)],
        totalBudget: Long,
        groupCol: String = "lang"
    ): DataFrame =
      ops.Text.mixtureEpochPlan(docs, weightsPpm, totalBudget, groupCol)
    /** Percentile/decile calibration of the quality score. */
    def qualityPercentiled: DataFrame =
      ops.Text.qualityPercentiles(docs)
    /** Scale-path decile thresholds (approx_percentile sketch). */
    def qualityThresholds: DataFrame =
      ops.Text.qualityDecileThresholds(docs)
    /** Exact decile thresholds — the audit twin of
      * [[qualityThresholds]] (window-based; calibration scale). */
    def qualityThresholdsExact: DataFrame =
      ops.Text.qualityDecileThresholdsExact(docs)
    /** Logistic quality classifier: apply (scan-stage arithmetic). */
    def classifierScored(model: ops.Text.QualityClassifier): DataFrame =
      ops.Text.classifierScore(docs, model)
    /** Logistic quality classifier: fit on (doc_id, label) rows. */
    def trainQualityClassifier(
        labels: DataFrame
    ): ops.Text.QualityClassifier =
      ops.Text.trainQualityClassifier(docs, labels)
    /** DSIR importance weights of these (raw) docs vs a target
      * corpus (hashed-unigram importance model). */
    def dsirWeightsAgainst(
        target: DataFrame, nBuckets: Int = 1024
    ): DataFrame = ops.Text.dsirWeights(docs, target, nBuckets)
    /** Deterministic DSIR selection: top-k raw docs by weight. */
    def dsirResampled(
        target: DataFrame, k: Int, nBuckets: Int = 1024
    ): DataFrame = ops.Text.dsirResample(docs, target, k, nBuckets)
    /** UniMax waterfilling: per-language budgets from a total. */
    def unimaxBudgets(
        totalBudget: Long, epochsCap: Int = 1
    ): Seq[(String, Long)] =
      ops.Text.unimaxBudgets(docs, totalBudget, epochsCap)
    /** UniMax allocation + deterministic per-lang admission. */
    def unimaxSampled(
        totalBudget: Long, epochsCap: Int = 1
    ): DataFrame = ops.Text.unimaxSample(docs, totalBudget, epochsCap)
    def langGuessed: DataFrame = ops.Text.langGuess(docs)
    def tokenStats: DataFrame = ops.Text.tokenStats(docs)
    def bpeTokenCounts: DataFrame = ops.Text.bpeTokenStats(docs)
    /** Exact n-gram Jaccard over a candidate pair frame (doc_a,
      * doc_b) — the verify half of the MinHash pipeline:
      * `docs.ngramJaccardOver(docs.nearDupCandidates(0.2))`.
      */
    def ngramJaccardOver(candidates: DataFrame): DataFrame =
      ops.Text.ngramJaccard(docs, candidates)
    def fingerprinted: DataFrame = ops.Text.fingerprint(docs)
    /** Incremental-ingestion dedup: batch-internal exact dedup, then
      * drop docs whose content hash exists in `seenDocs`; pass a
      * bloom from [[ops.Text.fitSeenBloom]] to prefilter map-side
      * (result stays exact).
      */
    def dedupAgainst(
        seenDocs: DataFrame,
        bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None
    ): DataFrame = ops.Text.incrementalDedup(docs, seenDocs, bloom)
    /** Incremental NEAR-dup ingestion gate vs an already-ingested
      * corpus (ids must be disjoint); LSH-banded, never n².
      */
    def nearDupsAgainst(
        seen: DataFrame,
        threshold: Double = 0.5
    ): DataFrame = ops.Text.incrementalNearDup(docs, seen, threshold)
    /** [[dedupAgainst]] vs a PRECOMPUTED seen-hash table
      * ([[seenContentHashes]] rows) — the deployment form: the seen
      * corpus's text is never re-read.
      */
    def dedupAgainstHashes(
        seenHashTable: DataFrame,
        bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None
    ): DataFrame =
      ops.Text.incrementalDedupHashes(docs, seenHashTable, bloom)
    /** [[nearDupsAgainst]] between PRECOMPUTED signature tables
      * ([[nearDupSignatures]] rows): `this` frame must already BE a
      * signature table (the batch side). Deployment form — the seen
      * corpus is never re-shingled.
      */
    def nearDupsAgainstSigs(
        seenSigs: DataFrame,
        threshold: Double = 0.5
    ): DataFrame =
      ops.Text.incrementalNearDupSigs(docs, seenSigs, threshold)
    /** The per-doc artifact [[nearDupsAgainstSigs]] joins: MinHash
      * signature + hashed shingles — what an ingestion pipeline
      * persists per admitted doc.
      */
    def nearDupSignatures: DataFrame = ops.Text.nearDupSignatures(docs)
    /** Distinct md5 content hashes — [[dedupAgainstHashes]]' stored
      * artifact. */
    def seenContentHashes: DataFrame = ops.Text.seenHashes(docs)
    def cappedPerSource(cap: Int): DataFrame =
      ops.Text.sourceCap(docs, cap)
    /** Deterministic train/val/test assignment (hash draw vs exact
      * cumulative thresholds; stable under corpus growth). */
    def assignedSplits(
        splits: Seq[(String, Double)] =
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    ): DataFrame = ops.Text.deterministicSplit(docs, splits)
    /** Sharded reproducible training-order shuffle (hash shard +
      * within-shard rank; partitioned windows — scales). */
    def shuffledForTraining(nShards: Int = 8): DataFrame =
      ops.Text.trainingShuffleShards(docs, nShards)
    def tokenBudgeted(budgets: Seq[(String, Long)]): DataFrame =
      ops.Text.tokenBudgetSample(docs, budgets)
    def stratifiedSample(
        rates: Seq[(String, Double)] =
          Seq("short" -> 0.2, "medium" -> 0.5, "long" -> 1.0)
    ): DataFrame = ops.Text.stratifiedSample(docs, rates)
    /** Leave-one-source-out influence of each source on the corpus
      * mean of `valueCol`, exact milli.
      */
    def sourceInfluenced(
        groupCol: String = "source",
        valueCol: String = "n_chars"
    ): DataFrame =
      ops.Text.sourceInfluence(docs, groupCol, valueCol)
    /** Exact 1-D Wasserstein-1 of each source's stopword-rate
      * distribution vs the corpus, on the fixed 101-bucket support.
      */
    def sourceQualityEmd: DataFrame = ops.Text.sourceQualityEmd(docs)
    /** RAKE keywords: stopword-delimited candidate runs scored by
      * the degree/frequency ratio in exact milli, corpus top-N. */
    def rakeKeywords(
        maxPhraseLen: Int = 4,
        topN: Int = 30
    ): DataFrame = ops.Text.rakeKeywords(docs, maxPhraseLen, topN)
    /** Neyman variance-optimal per-stratum budget split with exact
      * largest-remainder rounding (Σ n_alloc = budget).
      */
    def neymanAllocated(
        budget: Long,
        stratumCol: String = "source",
        valueCol: String = "n_chars"
    ): DataFrame =
      ops.Text.neymanAllocation(docs, stratumCol, valueCol, budget)
    def curated: DataFrame = ops.Text.curationPipeline(docs)
    def contaminationAgainst(
        evalDocs: DataFrame,
        n: Int = 3,
        minHits: Int = 1
    ): DataFrame = ops.Text.contamination(docs, evalDocs, n, minHits)
    /** Contamination n-gram-size sweep: the gate-calibration curve
      * over candidate shingle lengths. */
    def contaminationCurveAgainst(
        evalDocs: DataFrame,
        ns: Seq[Int] = Seq(3, 5, 8)
    ): DataFrame = ops.Text.contaminationCurve(docs, evalDocs, ns)
    def docFrequency(minDf: Long = 1L): DataFrame =
      ops.Text.docFrequency(docs, minDf)
    /** Corpus-derived stopword list with cumulative mass coverage. */
    def stopwordsDiscovered(minDfPpm: Long): DataFrame =
      ops.Text.stopwordDiscovery(docs, minDfPpm)
    /** Near-dup threshold tuning curve (pairs per jaccard decile). */
    def dedupThresholdCurve(baseThreshold: Double = 0.5): DataFrame =
      ops.Text.dedupThresholdCurve(docs, baseThreshold)
    /** Heaps-law vocabulary-growth curve over doc-rank buckets. */
    def vocabGrowth(nBuckets: Int = 10): DataFrame =
      ops.Text.vocabGrowth(docs, nBuckets)
    /** Top-k token-mass coverage curve (vocab-size chooser). */
    def vocabCoverageCurve(
        ks: Seq[Long] = Seq(10L, 100L, 1000L, 10000L)): DataFrame =
      ops.Text.vocabCoverageCurve(docs, ks)
    /** Provenance spread of near-dup clusters (within vs cross source). */
    def clusterSourceSpread(clusters: DataFrame): DataFrame =
      ops.Text.clusterSourceSpread(docs, clusters)
    /** Naive pad/truncate waste per candidate context length. */
    def paddingWaste(
        lens: Seq[Long] = Seq(512L, 1024L, 2048L, 4096L)): DataFrame =
      ops.Text.paddingWaste(docs, lens)
    /** Per-language chars/token fertility proxy. */
    def compressionRatio: DataFrame =
      ops.Text.compressionRatio(docs)
    /** Per-source PII risk rollup over the redaction counts. */
    def piiRiskBySource: DataFrame =
      ops.Text.piiRiskBySource(docs)
    /** Per-doc 3-gram novelty of this batch vs `corpus`. */
    def noveltyAgainst(corpus: DataFrame): DataFrame =
      ops.Text.ngramNovelty(docs, corpus)
    /** Chars-vs-tokens Pearson per source (filter redundancy). */
    def signalCorrelation: DataFrame =
      ops.Text.signalCorrelation(docs)
    /** BM25 integer postings skeleton for a literal query. */
    def bm25Postings(queryTokens: Seq[String]): DataFrame =
      ops.Text.bm25Postings(docs, queryTokens)
    /** BM25 ranked lexical top-k retrieval. */
    def bm25TopK(
        queryTokens: Seq[String],
        k: Int,
        k1: Double = 1.2,
        b: Double = 0.75
    ): DataFrame = ops.Text.bm25TopK(docs, queryTokens, k, k1, b)
    /** q20 fixed-point audit twin of [[bm25TopK]] (oracle-exact). */
    def bm25TopKQ20(
        queryTokens: Seq[String],
        k: Int,
        k1: Double = 1.2,
        b: Double = 0.75
    ): DataFrame = ops.Text.bm25TopKQ20(docs, queryTokens, k, k1, b)
    def rollingFingerprinted: DataFrame =
      ops.Text.rollingFingerprint(docs)
    /** md5-window winnowing twin of [[rollingFingerprinted]]. */
    def winnowFingerprinted(window: Int = 32): DataFrame =
      ops.Text.winnowFingerprint(docs, window)
    def simhashed: DataFrame = ops.Text.simhashes(docs)
    /** Hamming-≤-k SimHash pairs — exact via pigeonhole banding. */
    def simhashNearDups(maxHamming: Int = 3): DataFrame =
      ops.Text.simhashNearDup(docs, maxHamming)
    /** Learn a BPE merge table from this corpus (tokenizer
      * training); deterministic, one corpus scan + per-round jobs on
      * distinct words only.
      */
    def bpeMergesLearned(
        nMerges: Int = 20,
        minCount: Long = 2L
    ): DataFrame = ops.Text.bpeLearnMerges(docs, nMerges, minCount)
    /** Per-doc BPE token counts under a learned merge table. */
    def bpeEncoded(merges: DataFrame): DataFrame =
      ops.Text.bpeEncode(docs, merges)
    /** Count–min-sketch token frequencies (exact-vs-estimate
      * validation form).
      */
    def tokenFrequencySketched(
        topN: Int = 30,
        eps: Double = 0.001,
        confidence: Double = 0.99
    ): DataFrame =
      ops.Text.tokenFrequencySketch(docs, topN, eps, confidence)
    /** BPE merge-step adjacent-pair counts (vocab induction). */
    def bpePairs(minCount: Long = 2L, topN: Int = 100): DataFrame =
      ops.Text.bpePairCounts(docs, minCount, topN)
    /** α = 0.5 temperature flattening of the `groupCol` mixture. */
    def temperatureSampled(
        pivot: Long,
        groupCol: String = "source"
    ): DataFrame = ops.Text.temperatureSample(docs, pivot, groupCol)
    def writePartitioned(
        path: String,
        partitionCols: Seq[String] = Seq("lang"),
        maxRecordsPerFile: Long = 1000000L
    ): Unit =
      ops.Export.writePartitioned(docs, path, partitionCols,
        maxRecordsPerFile)
    def preparedForTraining(
        qualityThreshold: Double = 0.4,
        jaccardThreshold: Double = 0.5,
        sampleRate: Double = 0.5
    ): DataFrame = ops.Text.prepareTrainingData(docs,
      qualityThreshold, jaccardThreshold, sampleRate)
    /** Cross-modal capstone: classifier gate + text AND semantic
      * near-dup collapse (embeddings must carry a list_id). */
    def preparedForTrainingSemantic(
        embsAssigned: DataFrame,
        clf: ops.Text.QualityClassifier,
        minLogit: Double,
        jaccardThreshold: Double = 0.5,
        cosThreshold: Double = 0.4,
        sampleRate: Double = 0.5
    ): DataFrame = ops.Curation.prepareTrainingDataSemantic(
      docs, embsAssigned, clf, minLogit, jaccardThreshold,
      cosThreshold, sampleRate)
    /** Unigram-LM scoring (corpus-frequency perplexity proxy). */
    def unigramScored: DataFrame = ops.Text.unigramScore(docs)
    /** Bigram conditional-LM scoring (word-salad detector). */
    def bigramScored: DataFrame = ops.Text.bigramScore(docs)
    /** Jelinek–Mercer-smoothed bigram cross-entropy (ppm-exact). */
    def bigramCrossEntropy(lambdaPpm: Long = 700000L): DataFrame =
      ops.Text.bigramCrossEntropy(docs, lambdaPpm)
    /** Pairwise token-set Jaccard between sources. */
    def sourceOverlap: DataFrame = ops.Text.sourceOverlap(docs)
    /** Power-of-2 length buckets with padding-waste accounting. */
    def lengthBucketed: DataFrame = ops.Text.lengthBuckets(docs)
  }

  implicit class EmbeddingOps(private val embs: DataFrame)
      extends AnyVal {
    def cosineTopK(queryId: Long, k: Int): DataFrame =
      ops.Vector.bruteForceTopK(embs, queryId, k)
    /** MMR-diversified top-k: relevance pool then redundancy-penalized
      * greedy selection (lambda trades relevance vs diversity).
      */
    def mmrTopK(
        queryId: Long,
        k: Int,
        lambda: Double = 0.5,
        poolSize: Int = 15
    ): DataFrame = ops.Vector.mmrTopK(embs, queryId, k, lambda, poolSize)
    /** Semantic decontamination: rows of this corpus whose cosine
      * against any eval vector reaches the threshold (brute-force
      * exact — the eval side broadcasts).
      */
    def semanticContaminationAgainst(
        evalSet: DataFrame,
        threshold: Double
    ): DataFrame =
      ops.Vector.semanticContamination(embs, evalSet, threshold)
    /** Hybrid retrieval: restrict the corpus by document metadata
      * (the docs frame joins on doc_id = vec_id), then exact cosine
      * top-k over the survivors.
      */
    def hybridSearch(
        docs: DataFrame,
        lang: String,
        queryId: Long,
        k: Int
    ): DataFrame =
      ops.Vector.filteredCosineTopK(docs, embs, lang, queryId, k)
    /** Batch exact top-k: every row of `queries` against this
      * corpus, mergeable per-query top-k (shuffle carries k pairs
      * per query).
      */
    def cosineTopKBatch(queries: DataFrame, k: Int): DataFrame =
      ops.Vector.batchTopK(embs, queries, k)
    def annTopK(queryId: Long, k: Int, nPlanes: Int = 16): DataFrame =
      ops.Vector.annTopK(embs, queryId, k, nPlanes)
    /** Multi-probe LSH top-k (query bucket + Hamming-1 probes). */
    def annTopKMultiProbe(
        queryId: Long, k: Int, nPlanes: Int = 16): DataFrame =
      ops.Vector.annTopKMultiProbe(embs, queryId, k, nPlanes)
    def cosineNearDups(threshold: Double): DataFrame =
      ops.Vector.cosineNearDup(embs, threshold)
    /** n² verification twin — guarded to small inputs; see
      * [[ops.Vector.exactCosinePairs]].
      */
    def exactCosinePairs(threshold: Double): DataFrame =
      ops.Vector.exactCosinePairs(embs, threshold)
    /** SemDeDup-style within-cluster near-dup pairs (the coarse
      * quantizer comes from [[fitIvf]] — one model serves IVF search
      * and semantic dedup).
      */
    def semanticNearDups(
        model: KMeansModel,
        threshold: Double
    ): DataFrame =
      ops.Vector.semanticNearDupPairs(embs, model, threshold)
    def semanticDeduped(
        model: KMeansModel,
        threshold: Double
    ): DataFrame = ops.Vector.semanticDedup(embs, model, threshold)
    /** Precomputed-assignment forms: expect a `list_id` column (an
      * offline quantizer assignment or any partitioning metadata) —
      * the shape a 100 TB SemDeDup run uses.
      */
    def semanticNearDupsAssigned(threshold: Double): DataFrame =
      ops.Vector.semanticNearDupPairsAssigned(embs, threshold)
    def semanticDedupedAssigned(threshold: Double): DataFrame =
      ops.Vector.semanticDedupAssigned(embs, threshold)
    /** Personalized PageRank (restart at `seedId`) over the
      * within-list kNN graph — top `topN` by q20 mass. */
    def pprTopK(seedId: Long, k: Int = 3, iters: Int = 3,
        topN: Int = 25): DataFrame =
      ops.Vector.pprAssigned(embs, seedId, k, iters, topN)
    /** Threshold → component-structure dedup sweep over a
      * precomputed within-list pair graph. */
    def semanticDedupCurve(
        taus: Seq[Double], pairs: DataFrame): DataFrame =
      ops.Vector.dedupThresholdCurve(embs, taus, pairs)
    def assignedLists(model: KMeansModel): DataFrame =
      ops.Vector.assignLists(embs, model)
    def labelCentroids: DataFrame = ops.Vector.labelCentroids(embs)
    def quantizedInt8: DataFrame = ops.Vector.quantizeInt8(embs)
    /** SQ8 first-pass ranking + exact-cosine rescore of the top
      * `rescoreK` (the quantized serving pattern). */
    def quantizedTopK(queryId: Long, k: Int, rescoreK: Int = 50)
        : DataFrame =
      ops.Vector.quantizedTopK(embs, queryId, k, rescoreK)
    /** Matryoshka truncated retrieval: prefix-cosine first pass over
      * `dims` leading coordinates + exact full-dim rescore. */
    def matryoshkaTopK(
        queryId: Long,
        k: Int,
        dims: Int,
        rescoreK: Int = 50
    ): DataFrame =
      ops.Vector.matryoshkaTopK(embs, queryId, k, dims, rescoreK)
    /** Truncation recall curve vs the full-dim baseline per
      * candidate prefix dim — the calibration behind matryoshkaTopK.
      */
    def matryoshkaRecallCurve(
        dims: Seq[Int] = Seq(8, 16, 32),
        k: Int = 10,
        sampleMod: Long = 50L,
        sampleCount: Int = 0
    ): DataFrame =
      ops.Vector.matryoshkaRecallCurve(embs, dims, k, sampleMod,
        sampleCount)
    /** Local intrinsic dimensionality (MLE) per sampled query —
      * the distance-concentration diagnostic. */
    def lidEstimate(
        k: Int = 10, sampleCount: Int = 32): DataFrame =
      ops.Vector.lidEstimate(embs, k, sampleCount)
    /** Relative contrast (1−c_k)/(1−c_1) per sampled query — the
      * ANN query-hardness diagnostic. */
    def relativeContrast(
        k: Int = 10, sampleCount: Int = 32): DataFrame =
      ops.Vector.relativeContrast(embs, k, sampleCount)
    /** Facility-location coverage: mean best-cosine to the coreset
      * selection vs a hashed sample of the same size. */
    def facilityCoverage(
        k: Int = 32, gridDims: Int = 4, g: Int = 4): DataFrame =
      ops.Vector.facilityCoverage(embs, k, gridDims, g)
    /** k-occurrence (in-degree) moments of a kNN graph — the
      * hubness pathology table. */
    def hubness(knn: DataFrame, k: Int = 3): DataFrame =
      ops.Vector.hubness(embs, knn, k)
    /** Trustworthiness of the dim-truncated space: intruders into
      * the truncated top-k charged their full-space rank excess. */
    def trustworthiness(
        dim: Int = 16,
        ks: Seq[Int] = Seq(1, 5, 10),
        sampleCount: Int = 32
    ): DataFrame =
      ops.Vector.trustworthiness(embs, dim, ks, sampleCount)
    /** Cosine range search: neighborhood count + best match at τ
      * per sampled query (constant-nq sample). */
    def rangeSearch(tau: Double = 0.8, sampleCount: Int = 32)
        : DataFrame =
      ops.Vector.rangeSearch(embs, tau, sampleCount)
    /** PageRank centrality over the within-list kNN graph in exact
      * q20 integer arithmetic (frame must carry `list_id`). */
    def knnPagerankAssigned(k: Int = 3, iters: Int = 3): DataFrame =
      ops.Vector.knnPagerankAssigned(embs, k, iters)
    /** PageRank centrality via the fitted coarse quantizer. */
    def knnPagerank(
        model: KMeansModel,
        k: Int = 3,
        iters: Int = 3
    ): DataFrame = ops.Vector.knnPagerank(embs, model, k, iters)
    /** Semi-supervised label propagation over the within-list kNN
      * graph (frame must carry `list_id`; `seeds` = (vec_id, lab),
      * clamped). */
    def labelPropagationAssigned(
        seeds: DataFrame,
        k: Int = 3,
        iters: Int = 3
    ): DataFrame =
      ops.Vector.labelPropagationAssigned(embs, seeds, k, iters)
    /** Duplicate-cluster representatives by graph centrality (frame
      * must carry `list_id`): components pick the redundant sets,
      * PageRank picks the exemplar to keep. */
    def centralityRepresentatives(
        threshold: Double,
        k: Int = 3,
        iters: Int = 3,
        precomputedPairs: Option[DataFrame] = None
    ): DataFrame = ops.Vector.centralityRepresentatives(embs,
      threshold, k, iters, precomputedPairs)
    /** Recall@k of this ranking (`query_id, vec_id, rank`) against
      * the exact one — exact-integer ppm per query. */
    def recallAtK(exact: DataFrame, k: Int): DataFrame =
      ops.Vector.recallAtK(embs, exact, k)
    /** Local clustering coefficient over the within-list kNN graph
      * (frame must carry `list_id`; exact integer ppm). */
    def triangleCoefficientAssigned(k: Int = 3): DataFrame =
      ops.Vector.triangleCoefficientAssigned(embs, k)
    /** Common-neighbor link prediction over the kNN graph. */
    def linkPredictionAssigned(k: Int = 3,
        topN: Int = 100): DataFrame =
      ops.Vector.linkPredictionAssigned(embs, k, topN)
    /** Resource-Allocation (hub-discounted) link prediction over the
      * kNN graph: score = Σ floor(10^6/deg(z)) over shared
      * neighbors. */
    def resourceAllocationLinkPred(k: Int = 3,
        topN: Int = 100): DataFrame =
      ops.Vector.resourceAllocationLinkPred(embs, k, topN)
    /** Rounds-bounded k-core peel of the within-list kNN graph
      * (frame must carry `list_id`): residual degree + membership. */
    def kCoreAssigned(
        k: Int = 3, coreK: Int = 2, rounds: Int = 3): DataFrame =
      ops.Vector.kCoreAssigned(embs, k, coreK, rounds)
    /** Simplified (centroid) silhouette per label cluster: q16-exact
      * centroids, ordered dim folds, exact milli aggregates. */
    def silhouetteByLabel(): DataFrame =
      ops.Vector.silhouetteSimplified(embs)
    /** Newman degree assortativity of a precomputed kNN edge list
      * (this frame must carry `vec_id`/`nbr_id`): pure-integer
      * Pearson over both-orientation endpoint degrees. */
    def degreeAssortativity(): DataFrame =
      ops.Vector.degreeAssortativity(embs)
    /** HITS hubs/authorities in q20 fixed point over a precomputed
      * kNN edge list (this frame = edges; `nodes` = id domain). */
    def hitsScores(nodes: DataFrame): DataFrame =
      ops.Vector.hitsScores(embs, nodes)
    /** Directed-edge reciprocity of a precomputed kNN edge list. */
    def edgeReciprocity(): DataFrame =
      ops.Vector.edgeReciprocity(embs)
    /** Per-label purity of a precomputed kNN edge list (this frame =
      * edges; `labeled` = (vec_id, label)). */
    def knnLabelPurity(labeled: DataFrame): DataFrame =
      ops.Vector.knnLabelPurity(embs, labeled)
    /** Per-label cut conductance of a precomputed kNN edge list
      * (this frame = edges; `labeled` = (vec_id, label)): cut edges
      * over min-side volume, exact ppm. */
    def labelConductance(labeled: DataFrame): DataFrame =
      ops.Vector.labelConductance(embs, labeled)
    /** BFS depth histogram from `sourceId` over a precomputed kNN
      * edge list (this frame = edges; `nodes` = id domain). */
    def bfsDepths(nodes: DataFrame, sourceId: Long,
        maxDepth: Int = 6): DataFrame =
      ops.Vector.bfsDepths(embs, nodes, sourceId, maxDepth)
    /** In-degree histogram + orphan coverage of a precomputed kNN
      * edge list (this frame = edges; `nodes` = id domain). */
    def inDegreeHistogram(nodes: DataFrame): DataFrame =
      ops.Vector.inDegreeHistogram(embs, nodes)
    /** Within-list cosine-mass histogram (frame must carry
      * `list_id`): where the bulk similarity sits. */
    def cosineHistogram(nBuckets: Int = 40): DataFrame =
      ops.Vector.cosineHistogram(embs, nBuckets)
    /** Pairwise label-centroid cosine separation matrix. */
    def centroidSeparation(): DataFrame =
      ops.Vector.centroidSeparation(embs)
    /** Per-label centroid drift against another embedding snapshot
      * (exact q16 integer skeleton + floor-ppm cosine). */
    def centroidDriftTo(other: DataFrame): DataFrame =
      ops.Vector.centroidDriftQ16(embs, other)
    /** Per-label isotropy audit: mean pairwise dot without a pair
      * join (exact q16 skeleton + floor-ppm). */
    def isotropyAudit: DataFrame = ops.Vector.isotropyAuditQ16(embs)
    /** Sign-binarized embeddings: 32 dims per BIGINT word (32×
      * compression; Hamming ≈ angle by the sign-LSH bound). */
    def binarized(dim: Int): DataFrame = ops.Vector.binarize(embs, dim)
    /** Hamming top-k over the sign-binarized embeddings (binary
      * retrieval first pass; rescore with exact cosine for recall). */
    def binaryTopK(dim: Int, queryId: Long, k: Int): DataFrame =
      ops.Vector.binaryTopK(embs, dim, queryId, k)
    /** Inverted-list balance audit (frame must carry `list_id`):
      * occupancy, ppm share, imbalance vs perfect balance. */
    def listBalance: DataFrame = ops.Vector.listBalance(embs)
    /** Diagonal-Mahalanobis outlier top-k (encoder-failure screen). */
    def mahalanobisOutliers(k: Int): DataFrame =
      ops.Vector.mahalanobisOutliers(embs, k)
    /** Density-weighted coreset sample (grid-lattice ES draw). */
    def coresetSample(k: Int): DataFrame =
      ops.Vector.coresetSample(embs, k)
    /** MRR + nDCG@k of this ranking (the receiver) vs exact truth. */
    def rankingMetricsAgainst(truth: DataFrame, k: Int): DataFrame =
      ops.Vector.rankingMetrics(embs, truth, k)
    /** Chunk→doc mean pooling (exact q16 long-format sums). */
    def meanPooledBy(group: Column): DataFrame =
      ops.Vector.meanPool(embs, group)
    /** Reciprocal-rank fusion of this `(id, rank)` frame with other
      * rankings (exact q20 integers). */
    def rrfFusedWith(others: Seq[DataFrame], k: Int, k0: Int = 60)
        : DataFrame = ops.Vector.rrfFuse(embs +: others, k, k0)
    // PCA is fit-once, project-many: the fit reduces the corpus to an
    // exact-integer moment skeleton (one scan) + a driver eigensolve
    def pcaMoments: DataFrame = ops.Vector.pcaMomentsQ16(embs)
    def fitPca: ops.Vector.PcaModel = ops.Vector.fitPca(embs)
    /** Project (optionally whiten) onto the top-k components —
      * scan-stage serving arithmetic, no MLlib. */
    /** Fit-free JL ±1 sign projection to `outDims`. */
    def randomProjected(outDims: Int = 16): DataFrame =
      ops.Vector.randomProjection(embs, outDims)
    /** Measured JL distortion on adjacent-id pairs (ratio_ppm ≈ 1e6). */
    def jlDistortionAudit(outDims: Int = 16): DataFrame =
      ops.Vector.jlDistortion(embs, outDims)
    def pcaProjected(
        model: ops.Vector.PcaModel,
        k: Int,
        whiten: Boolean = false
    ): DataFrame = ops.Vector.pcaProject(embs, model, k, whiten)
    // IVF is fit-once, probe-many: fit offline (memoize the model —
    // see VectorQueries.prewarm / Caches.cached), probe per query
    def fitIvf(nLists: Int = 16): KMeansModel =
      ops.Vector.fitIvf(embs, nLists)
    def ivfTopK(
        model: KMeansModel,
        queryId: Long,
        k: Int,
        nProbe: Int = 4
    ): DataFrame = ops.Vector.ivfTopK(embs, model, queryId, k, nProbe)
    /** Coarse-grid cell density (outlier / dup-region signal). */
    def gridDensity(gridDims: Int = 4, g: Int = 4): DataFrame =
      ops.Vector.gridDensity(embs, gridDims, g)
    // PQ is fit-once, encode-once, probe-many: fit offline (driver-
    // sized sample), store the codes table at ingestion, serve via
    // ADC lookups + exact rescore
    def fitPq(m: Int = 16, ksub: Int = 16): ops.Vector.PqModel =
      ops.Vector.fitPq(embs, m, ksub)
    def pqEncode(model: ops.Vector.PqModel): DataFrame =
      ops.Vector.pqEncode(embs, model)
    def pqAdcTopK(
        model: ops.Vector.PqModel,
        queryId: Long,
        k: Int,
        rescoreK: Int = 100,
        precomputedCodes: Option[DataFrame] = None
    ): DataFrame =
      ops.Vector.pqAdcTopK(embs, model, queryId, k, rescoreK,
        precomputedCodes)
    // incremental semantic ingestion gate: store
    // (vec_id, list_id, unit) artifacts once at ingestion, gate each
    // batch against them within its coarse list
    def semanticSignaturesAssigned: DataFrame =
      ops.Vector.semanticSignaturesAssigned(embs)
    def semanticSignatures(model: KMeansModel): DataFrame =
      ops.Vector.semanticSignatures(embs, model)
    def semanticDupsAgainstSigs(
        seenSigs: DataFrame,
        threshold: Double
    ): DataFrame =
      ops.Vector.incrementalSemanticDupsSigs(
        ops.Vector.semanticSignaturesAssigned(embs), seenSigs,
        threshold)
    def semanticDupsAgainst(
        seen: DataFrame,
        model: KMeansModel,
        threshold: Double
    ): DataFrame =
      ops.Vector.incrementalSemanticDups(embs, seen, model, threshold)
    /** Within-list directed kNN graph (this frame must carry a
      * `list_id` assignment column). */
    def knnGraphAssigned(k: Int): DataFrame =
      ops.Vector.knnGraphAssigned(embs, k)
    /** Newman modularity of the `community` column on the within-list
      * kNN graph (pass lists coarser than communities — see
      * ops.Vector.modularityAssigned).
      */
    def modularityAssigned(k: Int): DataFrame =
      ops.Vector.modularityAssigned(embs, k)
    /** Nearest-centroid margin audit of the `label` clustering. */
    def centroidMarginAudit: DataFrame =
      ops.Vector.centroidMarginAudit(embs)
    /** PSI drift of this snapshot vs `cur` over the unit-sphere grid. */
    def embeddingDriftTo(cur: DataFrame): DataFrame =
      ops.Vector.embeddingDriftPsi(embs, cur)
    /** SQ8 reconstruction-error audit per vector. */
    def quantizationDistortion: DataFrame =
      ops.Vector.quantizationDistortion(embs)
    /** Per-tier index byte budget for this corpus. */
    def indexMemoryBudget(pqM: Int = 8): DataFrame =
      ops.Vector.indexMemoryBudget(embs, pqM)
    /** Byte-identical duplicate vector groups (q16 identity). */
    def exactDupVectors(minDups: Long = 2L): DataFrame =
      ops.Vector.exactDupVectors(embs, minDups)
    /** IVF nprobe→recall tuning curve against the exact top-k. */
    def nprobeRecallCurve(
        model: org.apache.spark.ml.clustering.KMeansModel,
        queryId: Long, k: Int, probes: Seq[Int]): DataFrame =
      ops.Vector.nprobeRecallCurve(embs, model, queryId, k, probes)
    /** kNN graph via the fitted coarse quantizer. */
    def knnGraph(model: KMeansModel, k: Int): DataFrame =
      ops.Vector.knnGraph(embs, model, k)
    /** D4-style density pruning: drop overdense regions (frame must
      * carry a `list_id` assignment column). */
    def densityPruned(k: Int, maxMeanCos: Double): DataFrame =
      ops.Vector.densityPrune(embs, k, maxMeanCos)
    /** Hard-negative mining (frame must carry `list_id` and the
      * positive-equivalence `group` column). */
    def hardNegatives(k: Int): DataFrame =
      ops.Vector.hardNegativesAssigned(embs, k)
    // IVF-PQ composite: coarse lists + residual codes — fit offline,
    // store the (list_id, codes) index at ingestion, serve via
    // probe × ADC × exact rescore
    def fitIvfPq(
        nLists: Int = 16,
        m: Int = 16,
        ksub: Int = 16
    ): ops.Vector.IvfPqModel =
      ops.Vector.fitIvfPq(embs, nLists, m, ksub)
    def ivfPqIndex(model: ops.Vector.IvfPqModel): DataFrame =
      ops.Vector.ivfPqIndex(embs, model)
    def ivfPqTopK(
        model: ops.Vector.IvfPqModel,
        queryId: Long,
        k: Int,
        nProbe: Int = 4,
        rescoreK: Int = 100,
        precomputedIndex: Option[DataFrame] = None
    ): DataFrame =
      ops.Vector.ivfPqTopK(embs, model, queryId, k, nProbe, rescoreK,
        precomputedIndex)
  }

  /** Physical-design toolkit on any DataFrame (ops.Layout): Z-order
    * clustering for multi-dimensional scan pruning, exact
    * range-boundary planning, key-skew profiling.
    */
  implicit class LayoutOps(private val df: DataFrame) extends AnyVal {
    /** Insertion-order correlation of a column vs a sequence key
      * (clustering-factor audit; bucketed lag windows). */
    def insertionOrderCorrelation(seqCol: String, valCol: String,
        bucketSize: Long = 1024L): DataFrame =
      ops.Layout.insertionOrderCorrelation(df, seqCol, valCol,
        bucketSize)
    /** MVCC snapshot resolution over an add/remove file log (this
      * frame = the log: file_id, op 'A'/'R', version, n_rows). */
    def snapshotLiveFiles(asOfVersion: Long): DataFrame =
      ops.Layout.snapshotLiveFiles(df, asOfVersion)
    /** Bloom-filter sizing advisor: exact q20 expected FPP per
      * (file, m_bits, k) for a point-lookup column. */
    def bloomAdvised(fileIdCol: String, keyCol: String): DataFrame =
      ops.Layout.bloomAdvisor(df, fileIdCol, keyCol)
    def withZValue(
        cols: Seq[String],
        bits: Int = 16,
        ranges: Option[Map[String, (Long, Long)]] = None
    ): DataFrame = ops.Layout.withZValue(df, cols, bits, ranges)
    def clusteredByZOrder(
        cols: Seq[String],
        bits: Int = 16,
        numPartitions: Int = 0
    ): DataFrame = ops.Layout.clusterByZOrder(df, cols, bits, numPartitions)
    def rangeBoundaries(colName: String, nRanges: Int): DataFrame =
      ops.Layout.rangeBoundaries(df, colName, nRanges)
    /** 2-D Hilbert clustering value — the better-locality sibling of
      * withZValue (consecutive indexes are always grid neighbors). */
    def withHilbertValue(
        colX: String,
        colY: String,
        bits: Int = 16,
        ranges: Option[Map[String, (Long, Long)]] = None
    ): DataFrame =
      ops.Layout.withHilbertValue(df, colX, colY, bits, ranges)
    /** Write-side Hilbert clustering: range-partition + sort on the
      * hilbert value so files and row groups tile the curve. */
    def clusteredByHilbert(
        colX: String,
        colY: String,
        bits: Int = 16,
        numPartitions: Int = 0
    ): DataFrame =
      ops.Layout.clusterByHilbert(df, colX, colY, bits, numPartitions)
    /** Exact rank-quantile boundaries of a unique key, no global
      * window (two-pass coarse-cell order statistic). */
    def exactKeyQuantiles(
        keyCol: String,
        nRanges: Int,
        coarseCells: Int = 1024
    ): DataFrame =
      ops.Layout.exactKeyQuantiles(df, keyCol, nRanges, coarseCells)
    /** Data-skipping audit: this frame as per-file stats vs `preds`. */
    def pruneAudit(preds: DataFrame): DataFrame =
      ops.Layout.pruneAudit(df, preds)
    /** 2-D (rectangle-predicate) form of the data-skipping audit. */
    def pruneAudit2D(preds: DataFrame): DataFrame =
      ops.Layout.pruneAudit2D(df, preds)
    def keySkewProfile(
        keyCol: String,
        topN: Int = 20,
        nParts: Int = 200
    ): DataFrame = ops.Layout.keySkewProfile(df, keyCol, topN, nParts)
    /** First-fit compaction bins over a (part_key, file_id, bytes)
      * file-statistics frame. */
    def compactionPlan(targetBytes: Long): DataFrame =
      ops.Layout.compactionPlan(df, targetBytes)
    /** Per-file stabbing depth over (file_id, min_v, max_v, n_rows)
      * stats — the predicate-free clustering metric. */
    def fileOverlapDepth(
        groupCols: Seq[String] = Seq("layout")
    ): DataFrame = ops.Layout.fileOverlapDepth(df, groupCols)
  }
}
