package graft

import graft.Graft._

/** The fluent facade delegates 1:1 to the op functions — each call
  * must plan and return the same shape as its target.
  */
class GraftApiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s1", 43L),
    (2L, "the quick brown fox jumps over the lazy dog", "en", "s2", 43L),
    (3L, "something else entirely different here now ok", "en", "s3", 45L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  private lazy val embs = Seq(
    (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.9f, 0.1f), 0),
    (2L, Array(0.0f, 1.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  /** Registry integrity — two silent failure modes the driver cannot
    * distinguish from bugs: an oracleSql key with no queries entry
    * (DuckDB side runs, Spark side never dumped → FAIL no_out), and
    * the same name registered by two modules (map ++ silently keeps
    * the last one — whichever module happens to win the concat).
    */
  test("every oracle key has a query; no name collides across " +
      "module registries") {
    val dangling = SparkEntry.oracleSql.keySet
      .diff(SparkEntry.queries.keySet)
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
    val modules = Seq(
      "relational" -> ops.RelationalQueries.queries.keySet,
      "demux" -> ops.DemuxQueries.queries.keySet,
      "cdc" -> ops.CdcQueries.queries.keySet,
      "text" -> ops.TextQueries.queries.keySet,
      "vector" -> ops.VectorQueries.queries.keySet,
      "multimodal" -> ops.MultimodalQueries.queries.keySet,
      "layout" -> ops.LayoutQueries.queries.keySet)
    val collisions = modules.combinations(2).flatMap {
      case Seq((na, a), (nb, b)) =>
        a.intersect(b).map(k => s"$k ($na ∩ $nb)")
    }.toSeq
    assert(collisions.isEmpty, s"colliding query names: $collisions")
  }

  /** At 148 queries / 137 oracles the registry is big enough that one
    * silently dropped from a module map (or an oracle demoted to
    * rows-only by a typo'd key) is invisible in review. Pin the exact
    * split; adding an operator means bumping these two numbers in the
    * same commit — a cheap, deliberate act. A drop in either without
    * a bump fails here long before the driver's sweep would notice.
    */
  test("registry size is pinned: any drift fails deliberately") {
    assert(SparkEntry.queries.size == 420,
      s"queries registry drifted: ${SparkEntry.queries.size} != 420")
    assert(SparkEntry.oracleSql.size == 408,
      s"oracle registry drifted: ${SparkEntry.oracleSql.size} != 408")
  }

  /** The size pin catches net drift; this pins the DIRECTION that
    * weakens evidence invisibly — a query silently losing its oracle
    * (typo'd key, module refactor) drops it to the driver's weaker
    * rows-only check without changing any behavior a spec sees. The
    * rows-only set is a deliberate, individually-adjudicated contract
    * (each entry is non-SQL-expressible: sketch internals, fitted
    * k-means/LSH model artifacts, iterative BPE argmax — SURVEY
    * §2.7); growing it requires editing this list in the same commit.
    */
  test("rows-only (oracle-less) query set is pinned exactly") {
    val rowsOnly =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val expected = Set(
      "q_approx_distinct", "q_text_bpe_encode", "q_text_bpe_merges",
      "q_text_cms_tokens", "q_text_quality_thresholds",
      "q_vec_ann_ivf", "q_vec_ann_lsh",
      "q_vec_ann_lsh_mp", "q_vec_ivfpq_topk", "q_vec_nprobe_curve",
      "q_vec_pca_project", "q_vec_pq_topk")
    assert(rowsOnly == expected,
      s"rows-only drift: +${rowsOnly -- expected} -${expected -- rowsOnly}")
  }

  /** Sweep-integrity canaries: constant values, constant hash. If a
    * driver correctness row for either canary is ever red, the sweep
    * itself corrupted (the r7/r9/r10 DuckDB allocator-exhaustion
    * mode), not the engine. `q_zz_canary` carries the low-allocation
    * preamble so its green row also witnesses the preamble mechanism
    * end-to-end; `q_aa_canary` stays preamble-free as the control.
    */
  test("canaries bracket the sorted registry and stay constant") {
    val names = SparkEntry.queries.keySet.toSeq.sorted
    assert(names.head == "q_aa_canary" && names.last == "q_zz_canary")
    assert(SparkEntry.oracleSql("q_zz_canary")
      .startsWith("SET threads=2;"))
    assert(!SparkEntry.oracleSql("q_aa_canary").contains("SET "))
  }

  /** The preamble changes driver behavior invisibly (a multi-statement
    * SET prefix before the oracle): a query silently gaining or losing
    * it would alter how the driver's DuckDB runs that oracle with no
    * other observable diff. Pin the exact membership — editing the
    * preambled set must be a deliberate same-commit act, like the
    * size/rows-only pins above.
    */
  test("preambled oracle set is pinned exactly") {
    val pre = "SET threads=2; SET memory_limit='2GB'; "
    val actual = SparkEntry.oracleSql.collect {
      case (k, v) if v.startsWith(pre) => k
    }.toSet
    val expected = Set(
      "q_vec_cluster_reps", "q_vec_coreset_sample", "q_vec_cosine_topk",
      "q_vec_density_prune", "q_vec_doc_pool", "q_vec_drift_psi",
      "q_vec_knn_recall", "q_vec_label_prop", "q_vec_mmr_topk",
      "q_vec_modularity", "q_vec_neardup", "q_vec_neardup_quantized",
      "q_vec_pagerank",
      "q_vec_ranking_metrics", "q_vec_rrf_fusion",
      "q_vec_semantic_contamination", "q_vec_semantic_dedup",
      "q_vec_semantic_pairs", "q_vec_sq8_distortion",
      "q_vec_matryoshka_recall",
      "q_vec_triangle_coeff", "q_waiting_suppliers",
      "q_window_distribution_funcs", "q_zset_range",
      "q_text_dedup_curve", "q_text_stopwords", "q_text_vocab_growth",
      "q_vec_centroid_margin", "q_zz_canary")
    assert(actual == expected,
      s"preambled drift: +${actual -- expected} -${expected -- actual}")
    // and no oracle carries a partial/other SET prefix
    val strays = SparkEntry.oracleSql.collect {
      case (k, v) if v.startsWith("SET ") && !v.startsWith(pre) => k
    }
    assert(strays.isEmpty, s"unexpected SET prefix: $strays")
  }

  /** DuckDB widens SUM(BIGINT) to HUGEINT and duckdb-python fetchdf()
    * maps HUGEINT to float64 (5 -> 5.0), so an un-CAST SUM-derived
    * column in an oracle's FINAL projection hash-mismatches against
    * the Spark int64 side even when every value is equal — the exact
    * r10/r11 bug on dedup_curve/stopwords/vocab_growth/centroid_margin.
    * Lint: in the last top-level SELECT of every oracle, any
    * projection chunk containing SUM( must also contain CAST( (crude
    * by design — it flags the whole chunk, which is how all four
    * historical bugs presented).
    */
  test("no un-CAST SUM in any oracle's final projection") {
    def lastTopLevelSelect(sql: String): Int = {
      var depth = 0; var last = -1; var i = 0
      val up = sql.toUpperCase
      while (i < up.length) {
        up.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
            if (depth == 0 && up.startsWith("SELECT", i) &&
              (i == 0 || !up.charAt(i - 1).isLetterOrDigit)) last = i
        }
        i += 1
      }
      last
    }
    def projectionChunks(sql: String): Seq[String] = {
      val start = lastTopLevelSelect(sql)
      if (start < 0) return Nil
      val region0 = sql.substring(start + 6)
      val up = region0.toUpperCase
      var depth = 0; var cut = region0.length; var i = 0
      while (i < up.length && cut == region0.length) {
        up.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
            if (depth == 0 && up.startsWith("FROM", i) &&
              !up.charAt(i - 1).isLetterOrDigit &&
              (i + 4 >= up.length || !up.charAt(i + 4).isLetterOrDigit))
              cut = i
        }
        i += 1
      }
      val region = region0.substring(0, cut)
      val out = scala.collection.mutable.Buffer[String]()
      val cur = new StringBuilder
      depth = 0
      region.foreach {
        case '(' => depth += 1; cur += '('
        case ')' => depth -= 1; cur += ')'
        case ',' if depth == 0 => out += cur.result(); cur.clear()
        case c => cur += c
      }
      out += cur.result()
      out.toSeq
    }
    val sumRe = "(?i)\\bSUM\\s*\\(".r
    val offenders = SparkEntry.oracleSql.toSeq.flatMap { case (k, sql) =>
      projectionChunks(sql).collect {
        case ch if sumRe.findFirstIn(ch).isDefined &&
          !ch.toUpperCase.contains("CAST") =>
          s"$k: ${ch.trim.replaceAll("\\s+", " ").take(80)}"
      }
    }
    assert(offenders.isEmpty,
      s"un-CAST SUM in final projection (HUGEINT hazard): $offenders")
  }

  /** r14 shipped three driver-red rows, all from final-projection
    * dtype choices the local tooling tolerated: DECIMAL(38,0) columns
    * hash-diverge (Spark parquet and DuckDB fetchdf map wide decimals
    * to different pandas dtypes even when every value is equal) and
    * array<_> columns crash the driver's pandas row sort outright
    * (unhashable numpy.ndarray). The driver is the contract, so the
    * registry-wide invariant is structural: NO registered query may
    * place a DecimalType, ArrayType, MapType or StructType column in
    * its FINAL schema — narrow to BIGINT (mod-2⁶¹ for checksums) or
    * serialize to a sorted CSV string instead. Wide/nested types
    * remain fine INSIDE a computation. Schema-only: each query is
    * CONSTRUCTED against sf0.001 and its analyzed schema inspected —
    * queries whose construction runs model fits do real (tiny) work,
    * the rest never execute.
    */
  test("no Decimal/Array/Map/Struct column in any registered " +
      "query's final schema") {
    import org.apache.spark.sql.types._
    val sf = "/root/testdata/sf0.001"
    def banned(dt: DataType): Boolean = dt match {
      case _: DecimalType | _: ArrayType | _: MapType | _: StructType =>
        true
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val schema =
          try q(spark, sf).schema
          catch {
            case e: Exception => fail(
              s"$name: query construction failed at sf0.001: $e")
          }
        schema.fields.collect {
          case f if banned(f.dataType) =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"driver-hash-hazard columns in final schemas: $offenders")
  }

  /** The r14 closing commit claimed 321/321 while the driver's own
    * artifact said 318/321 — the local gate had quietly diverged from
    * the one that counts. This pin makes the DRIVER's newest sweep a
    * test input: every red row in the newest CORRECTNESS_r*.json
    * (hash/rows mismatch or a compare error other than the contracted
    * `no_oracle`) must be explicitly acknowledged here — i.e. fixing
    * a driver red and acknowledging it is one deliberate same-commit
    * act, and a NEW driver red fails the suite until a human names
    * it. Parsing is regex-grade on purpose: the artifact is flat
    * one-level JSON and this spec must not grow a JSON dependency.
    */
  test("every red row in the newest driver correctness artifact is " +
      "acknowledged") {
    val dir = new java.io.File("/root/repo")
    val arts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("CORRECTNESS_r\\d+\\.json"))
      .sortBy(_.getName)
    if (arts.nonEmpty) {
      val txt = java.nio.file.Files.readString(arts.last.toPath)
      val row =
        """"(q_[a-z0-9_]+)":\s*\{([^}]*)\}""".r
      val reds = row.findAllMatchIn(txt).collect {
        case m if m.group(2).contains("\"hash_match\": false") ||
          m.group(2).contains("\"rows_match\": false") ||
          m.group(2).contains("\"schema_match\": false") ||
          (m.group(2).contains("\"err\": \"") &&
            !m.group(2).contains("\"err\": \"no_oracle\"")) =>
          m.group(1)
      }.toSet
      // r14 reds, all fixed r15 (narrowed/serialized finals):
      val acknowledged = Set("q_vec_assortativity",
        "q_cdc_checksum_diff", "q_cdc_apply_conflicts")
      assert(reds.subsetOf(acknowledged),
        s"UNACKNOWLEDGED driver-red rows in ${arts.last.getName}: " +
          s"${reds -- acknowledged} — fix them (or name them here) " +
          "in the same commit")
    }
  }

  test("doc surface composes end to end") {
    assert(docs.dedupExact.count() == 2)
    assert(docs.dupGroups.columns.contains("n_dups"))
    val pairs = docs.jaccardPairs(0.9)
    assert(pairs.select("doc_a", "doc_b").as[(Long, Long)]
      .collect().toSet == Set((1L, 2L)))
    val clustered = docs.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clustered == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    assert(docs.chunked(window = 4, stride = 3).count() > 3)
    assert(docs.redactPii.columns.contains("redacted"))
    assert(docs.repetitionSignals.columns.contains("dup_bigram_ratio"))
    assert(docs.curated.columns.nonEmpty)
  }

  test("doc analysis + export surface composes end to end") {
    // doc 3 shares zero trigrams with docs 1/2 → only 1,2 contaminated
    val hits = docs.filter($"doc_id" =!= 3L)
      .contaminationAgainst(docs.filter($"doc_id" === 3L), n = 3)
    assert(hits.count() == 0)
    val hits2 = docs.filter($"doc_id" === 1L)
      .contaminationAgainst(docs.filter($"doc_id" === 2L), n = 3)
    assert(hits2.count() == 1)                // identical texts collide
    val df_ = docs.docFrequency(minDf = 2L).collect()
    assert(df_.exists(r => r.getAs[String]("token") == "the" &&
      r.getAs[Long]("df") == 2L))
    assert(docs.rollingFingerprinted.columns.contains("roll_fp"))
    assert(docs.simhashed.count() == 3)
    // stored-artifact gate surface: hashes + signatures round trip
    assert(docs.seenContentHashes.count() == 2) // docs 1,2 identical
    val sigs = docs.nearDupSignatures
    assert(sigs.filter($"doc_id" === 1L).nearDupsAgainstSigs(
      sigs.filter($"doc_id" === 2L)).count() == 1)
    assert(docs.filter($"doc_id" === 3L).dedupAgainstHashes(
      docs.filter($"doc_id" === 1L).seenContentHashes).count() == 1)
    val out = java.nio.file.Files
      .createTempDirectory("graft-api-export").toString
    docs.writePartitioned(out, partitionCols = Seq("lang"))
    assert(spark.read.parquet(out).count() == 3)
  }

  test("embedding surface composes end to end") {
    val top = embs.cosineTopK(0L, 1).collect()
    assert(top.head.getAs[Long]("vec_id") == 1L)
    assert(embs.quantizedInt8.count() == 3)
    assert(embs.labelCentroids.count() == 4)  // 2 labels × 2 dims
    val model = embs.fitIvf(nLists = 2)
    val ivf = embs.ivfTopK(model, 0L, 1).collect()
    assert(ivf.head.getAs[Long]("vec_id") == 1L)
    // new-surface smoke: spans/packing + semantic dedup round trips
    assert(docs.duplicatedSpans(spanTokens = 3).count() > 0)
    assert(docs.chunked(window = 4, stride = 3).packedChunks(
      seqTokens = 8, nBuckets = 2).columns.contains("seq_id"))
    val sem = embs.withColumn("list_id", $"label")
      .semanticDedupedAssigned(0.9)
    assert(sem.filter($"keep").count() == 2)  // {0,1} merge, 2 alone
  }

  /** Every public DataFrame operator in ops.Text / ops.Vector must be
    * reachable from the facade (or explicitly whitelisted as an
    * internal/differential helper) — round 5 shipped four operators
    * no facade user could find; this pins the invariant.
    */
  test("facade covers every public Text/Vector DataFrame operator") {
    import org.apache.spark.sql.DataFrame
    def opNames(o: AnyRef): Set[String] =
      o.getClass.getMethods
        .filter(_.getReturnType == classOf[DataFrame])
        .map(_.getName).filterNot(_.contains("$")).toSet
    def facadeNames(c: Class[_]): Set[String] =
      c.getMethods.map(_.getName).toSet
    val docFacade = facadeNames(classOf[Graft.DocOps])
    val embFacade = facadeNames(classOf[Graft.EmbeddingOps])
    // ops name → facade name (identity unless renamed for fluency)
    val covered = Map(
      "exactDedup" -> "dedupExact", "exactDupGroups" -> "dupGroups",
      "minhashCandidates" -> "nearDupCandidates",
      "jaccardExactPairs" -> "jaccardPairs",
      "dupClusters" -> "dupClusters", "chunkDocs" -> "chunked",
      "packChunks" -> "packedChunks",
      "duplicatedSpans" -> "duplicatedSpans",
      "piiRedact" -> "redactPii",
      "repetitionStats" -> "repetitionSignals",
      "qualityScore" -> "qualityScored", "langGuess" -> "langGuessed",
      "qualityRankNormalize" -> "qualityRankNormalized",
      "windowCooccurrencePmi" -> "windowCooccurrencePmi",
      "sourceTfidfCosine" -> "sourceTfidfCosine",
      "tokenBurstiness" -> "tokenBurstiness",
      "templateHeads" -> "templateHeads",
      "filterYieldCurve" -> "filterYieldCurve",
      "edgeReciprocity" -> "edgeReciprocity",
      "gopherRules" -> "gopherRuled",
      "tokenStats" -> "tokenStats",
      "bpeTokenStats" -> "bpeTokenCounts",
      "ngramJaccard" -> "ngramJaccardOver",
      "fingerprint" -> "fingerprinted",
      "stratifiedSample" -> "stratifiedSample",
      "neymanAllocation" -> "neymanAllocated",
      "sourceInfluence" -> "sourceInfluenced",
      "sourceQualityEmd" -> "sourceQualityEmd",
      "rakeKeywords" -> "rakeKeywords",
      "curationPipeline" -> "curated",
      "contamination" -> "contaminationAgainst",
      "docFrequency" -> "docFrequency",
      "stopwordDiscovery" -> "stopwordsDiscovered",
      "dedupThresholdCurve" -> "dedupThresholdCurve",
      "dupClustersPartitioned" -> "dupClustersPartitioned",
      "bradleyTerry" -> "bradleyTerry",
      "sourceDedupTokens" -> "sourceDedupTokens",
      "softDedupWeights" -> "softDedupWeights",
      "ringRebalance" -> "ringRebalance",
      "seqPatterns" -> "seqPatterns",
      "weightedJaccard" -> "weightedJaccard",
      "dupTransitivity" -> "dupTransitivity",
      "bloomDedupFpr" -> "bloomDedupFpr",
      "dpNoisyCounts" -> "dpNoisyCounts",
      "pprAssigned" -> "pprTopK",
      "vocabGrowth" -> "vocabGrowth",
      "vocabCoverageCurve" -> "vocabCoverageCurve",
      "clusterSourceSpread" -> "clusterSourceSpread",
      "paddingWaste" -> "paddingWaste",
      "compressionRatio" -> "compressionRatio",
      "rollingFingerprint" -> "rollingFingerprinted",
      "winnowFingerprint" -> "winnowFingerprinted",
      "simhashes" -> "simhashed",
      "incrementalDedup" -> "dedupAgainst",
      "sourceCap" -> "cappedPerSource",
      "tokenBudgetSample" -> "tokenBudgeted",
      "simhashNearDup" -> "simhashNearDups",
      "bpePairCounts" -> "bpePairs",
      "temperatureSample" -> "temperatureSampled",
      "prepareTrainingData" -> "preparedForTraining",
      "bruteForceTopK" -> "cosineTopK", "annTopK" -> "annTopK",
      "annTopKMultiProbe" -> "annTopKMultiProbe",
      "batchTopK" -> "cosineTopKBatch",
      "ivfTopK" -> "ivfTopK", "labelCentroids" -> "labelCentroids",
      "quantizeInt8" -> "quantizedInt8",
      "cosineNearDup" -> "cosineNearDups",
      "exactCosinePairs" -> "exactCosinePairs",
      "assignLists" -> "assignedLists",
      "semanticNearDupPairs" -> "semanticNearDups",
      "semanticNearDupPairsAssigned" -> "semanticNearDupsAssigned",
      "semanticDedup" -> "semanticDeduped",
      "semanticDedupAssigned" -> "semanticDedupedAssigned",
      "unigramScore" -> "unigramScored",
      "bigramScore" -> "bigramScored",
      "bigramCrossEntropy" -> "bigramCrossEntropy",
      "sourceOverlap" -> "sourceOverlap",
      "lengthBuckets" -> "lengthBucketed",
      "gridDensity" -> "gridDensity",
      "scrubDuplicatedBlocks" -> "scrubbedDuplicateBlocks",
      "dupClusterSurvivors" -> "clusterSurvivors",
      "filteredCosineTopK" -> "hybridSearch",
      "semanticContamination" -> "semanticContaminationAgainst",
      "bpeLearnMerges" -> "bpeMergesLearned",
      "bpeEncode" -> "bpeEncoded",
      "contentDefinedChunks" -> "contentChunked",
      "sentenceChunks" -> "sentenceChunked",
      "tokenFrequencySketch" -> "tokenFrequencySketched",
      "packChunksFirstFit" -> "packedChunksFirstFit",
      "qualityPercentiles" -> "qualityPercentiled",
      "qualityDecileThresholds" -> "qualityThresholds",
      "qualityDecileThresholdsExact" -> "qualityThresholdsExact",
      "incrementalNearDup" -> "nearDupsAgainst",
      "deterministicSplit" -> "assignedSplits",
      "trainingShuffleShards" -> "shuffledForTraining",
      "quantizedTopK" -> "quantizedTopK",
      "incrementalNearDupSigs" -> "nearDupsAgainstSigs",
      "nearDupSignatures" -> "nearDupSignatures",
      "incrementalDedupHashes" -> "dedupAgainstHashes",
      "seenHashes" -> "seenContentHashes",
      "pqEncode" -> "pqEncode", "pqAdcTopK" -> "pqAdcTopK",
      "ivfPqIndex" -> "ivfPqIndex", "ivfPqTopK" -> "ivfPqTopK",
      "semanticSignaturesAssigned" -> "semanticSignaturesAssigned",
      "semanticSignatures" -> "semanticSignatures",
      "incrementalSemanticDupsSigs" -> "semanticDupsAgainstSigs",
      "incrementalSemanticDups" -> "semanticDupsAgainst",
      "dsirWeights" -> "dsirWeightsAgainst",
      "dsirResample" -> "dsirResampled",
      "classifierScore" -> "classifierScored",
      "knnGraphAssigned" -> "knnGraphAssigned",
      "modularityAssigned" -> "modularityAssigned",
      "centroidMarginAudit" -> "centroidMarginAudit",
      "embeddingDriftPsi" -> "embeddingDriftTo",
      "quantizationDistortion" -> "quantizationDistortion",
      "nprobeRecallCurve" -> "nprobeRecallCurve",
      "indexMemoryBudget" -> "indexMemoryBudget",
      "exactDupVectors" -> "exactDupVectors",
      "piiRiskBySource" -> "piiRiskBySource",
      "ngramNovelty" -> "noveltyAgainst",
      "signalCorrelation" -> "signalCorrelation",
      "knnGraph" -> "knnGraph",
      "densityPrune" -> "densityPruned",
      "hardNegativesAssigned" -> "hardNegatives",
      "unimaxSample" -> "unimaxSampled",
      "mmrTopK" -> "mmrTopK",
      "bm25Postings" -> "bm25Postings",
      "bm25TopK" -> "bm25TopK",
      "bm25TopKQ20" -> "bm25TopKQ20",
      "removeBoilerplate" -> "boilerplateRemoved",
      "tokenEntropy" -> "tokenEntropy",
      "corpusDiff" -> "corpusDiffTo",
      "normalizeText" -> "normalized",
      "readability" -> "readabilityScored",
      "oovRate" -> "oovRated",
      "sourceProfile" -> "sourceProfiled",
      "blocklistFilter" -> "blocklistFiltered",
      "containmentPairs" -> "containmentPairs",
      "sourceContainment" -> "sourceContainment",
      "orderedShingles" -> "orderedShingles",
      "orderedShinglesW" -> "orderedShingles",
      "shingleWidthCurve" -> "shingleWidthCurve",
      "dupModalityAgreement" -> "dupModalityAgreement",
      "jaccardPairsOverOrdered" -> "jaccardPairsOverOrdered",
      "containmentPairsOverOrdered" -> "containmentPairsOverOrdered",
      "weightedSample" -> "weightedSample",
      "tfidfKeywords" -> "tfidfKeywords",
      "curriculumPhases" -> "curriculumPhases",
      "zipfAudit" -> "zipfAudit",
      "langConfusion" -> "langConfusion",
      "dedupImpact" -> "dedupImpact",
      "chainContamination" -> "chainContamination",
      "contaminationCurve" -> "contaminationCurveAgainst",
      "minhashPrecisionAudit" -> "minhashPrecisionAudit",
      "sourceUnigramKl" -> "sourceUnigramKl",
      "shardDedupLoss" -> "shardDedupLoss",
      "langDupAffinity" -> "langDupAffinity",
      "rangeSearch" -> "rangeSearch",
      "mahalanobisOutliers" -> "mahalanobisOutliers",
      "coresetSample" -> "coresetSample",
      "rankingMetrics" -> "rankingMetricsAgainst",
      "meanPool" -> "meanPooledBy",
      "triangleCoefficientAssigned" -> "triangleCoefficientAssigned",
      "linkPredictionAssigned" -> "linkPredictionAssigned",
      "resourceAllocationLinkPred" -> "resourceAllocationLinkPred",
      "centroidDriftQ16" -> "centroidDriftTo",
      "kCoreAssigned" -> "kCoreAssigned",
      "degreeAssortativity" -> "degreeAssortativity",
      "hitsScores" -> "hitsScores",
      "knnLabelPurity" -> "knnLabelPurity",
      "labelConductance" -> "labelConductance",
      "snapshotLiveFiles" -> "snapshotLiveFiles",
      "bloomAdvisor" -> "bloomAdvised",
      "chunkDedup" -> "chunkDedup",
      "sourceDupMatrix" -> "sourceDupMatrix",
      "tokenFertility" -> "tokenFertility",
      "lengthTailIndex" -> "lengthTailIndex",
      "bfsDepths" -> "bfsDepths",
      "inDegreeHistogram" -> "inDegreeHistogram",
      "cosineHistogram" -> "cosineHistogram",
      "centroidSeparation" -> "centroidSeparation",
      "dupQualityBias" -> "dupQualityBias",
      "insertionOrderCorrelation" -> "insertionOrderCorrelation",
      "silhouetteSimplified" -> "silhouetteByLabel",
      "leakageSafeSplit" -> "leakageSafeSplitBy",
      "isotropyAuditQ16" -> "isotropyAudit",
      "binarize" -> "binarized",
      "binaryTopK" -> "binaryTopK",
      "listBalance" -> "listBalance",
      "ngramDiversity" -> "ngramDiversityBySource",
      "mixtureEpochPlan" -> "mixtureEpochPlan",
      "qualityDrift" -> "qualityDriftTo",
      "rrfFuse" -> "rrfFusedWith",
      "matryoshkaTopK" -> "matryoshkaTopK",
      "matryoshkaRecallCurve" -> "matryoshkaRecallCurve",
      "trustworthiness" -> "trustworthiness",
      "facilityCoverage" -> "facilityCoverage",
      "hubness" -> "hubness",
      "relativeContrast" -> "relativeContrast",
      "lidEstimate" -> "lidEstimate",
      "knnPagerankAssigned" -> "knnPagerankAssigned",
      "knnPagerank" -> "knnPagerank",
      "pcaMomentsQ16" -> "pcaMoments",
      "centralityRepresentatives" -> "centralityRepresentatives",
      "labelPropagationAssigned" -> "labelPropagationAssigned",
      "recallAtK" -> "recallAtK",
      "pcaProject" -> "pcaProjected",
      "randomProjection" -> "randomProjected",
      "jlDistortion" -> "jlDistortionAudit",
      "withZValue" -> "withZValue",
      "withHilbertValue" -> "withHilbertValue",
      "clusterByHilbert" -> "clusteredByHilbert",
      "clusterByZOrder" -> "clusteredByZOrder",
      "rangeBoundaries" -> "rangeBoundaries",
      "exactKeyQuantiles" -> "exactKeyQuantiles",
      "lshTuningCurve" -> "lshTuningCurve",
      "minhashRecallAudit" -> "minhashRecallAudit",
      "filterAgreementKappa" -> "filterAgreementKappa",
      "goodTuring" -> "goodTuring",
      "kneserNeyBigrams" -> "kneserNeyBigrams",
      "burrowsDelta" -> "burrowsDelta",
      "keySkewProfile" -> "keySkewProfile",
      "compactionPlan" -> "compactionPlan",
      "pruneAudit" -> "pruneAudit",
      "pruneAudit2D" -> "pruneAudit2D",
      "fileOverlapDepth" -> "fileOverlapDepth")
    // internal staging / differential-test references, not user ops
    val whitelist = Set("exactDedupWindow", "docShingles", "unitized",
      // package-private plumbing (reflection sees it as public):
      // the (doc_id, pos) rows bloomDedupFpr counts
      "bloomPositions",
      // graph-nodes half of dupClustersPartitioned, factored out so
      // dupClusters' small-graph gate can persist it before the
      // singleton union (r19) — staging, not a user op
      "partitionedComps",
      // qualityScore's keep-columns form (r19) — same score, extra
      // carried columns; staging for ops that need attributes the
      // scan already read
      "qualityScoreKeeping",
      // the md5-family banded candidate set both LSH audits join
      // against (r19) — staging behind their precomputedCandidates
      "md5BandCandidates")
    val missing = (opNames(ops.Text) ++ opNames(ops.Vector) ++
        opNames(ops.Layout))
      .diff(covered.keySet ++ whitelist)
    assert(missing.isEmpty,
      s"ops without facade coverage or whitelist entry: $missing")
    val layoutFacade = facadeNames(classOf[Graft.LayoutOps])
    val dangling = covered.values.toSet
      .diff(docFacade ++ embFacade ++ layoutFacade)
    assert(dangling.isEmpty,
      s"facade methods named in the map but not defined: $dangling")
  }
}
