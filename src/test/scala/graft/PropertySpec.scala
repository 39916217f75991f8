package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.ops.{Cdc, Demux, GmallSynth, Text}

/** Property-based tests (SURVEY §5.3): structural invariants that must
  * hold for ANY input, checked over generated corpora.
  */
class PropertySpec extends SparkSpec {

  /** No scalatest-scalacheck bridge in the offline cache — drive the
    * generators directly with a deterministic seed.
    */
  private def forAll[A](g: Gen[A], n: Int = 30)(body: A => Unit): Unit = {
    val params = org.scalacheck.Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(42L)
    var i = 0
    while (i < n) {
      g.apply(params, seed).foreach { a => body(a); i += 1 }
      seed = seed.next
    }
  }
  import spark.implicits._

  private val word = Gen.oneOf(
    "the", "quick", "brown", "fox", "und", "der", "los", "a1", "§",
    "x", "", " ", "tab\there")
  private val textGen: Gen[String] =
    Gen.listOf(word).map(_.mkString(" "))

  test("demux branches partition the non-error page/start space") {
    // Build log lines from a slice of real events via the synthesizer,
    // then check: every parsed record lands in err XOR
    // (page branch / start branch / neither), never both err and page.
    val lines = GmallSynth.logLines(
      Tables.events(spark, sf("sf0.001"))).limit(2000)
    val parsed = Demux.parse(lines).persist()
    try {
      val total  = parsed.count()
      val nErr   = Demux.errors(parsed).count()
      val nPage  = Demux.pages(parsed).count()
      val nStart = Demux.starts(parsed).count()
      val nOther = parsed
        .filter(col("err").isNull && col("page").isNull &&
          col("start").isNull).count()
      assert(nErr + nPage + nStart + nOther == total)
    } finally parsed.unpersist()
  }

  test("explode multiplicity: display rows == sum of array sizes") {
    val lines = GmallSynth.logLines(
      Tables.events(spark, sf("sf0.001"))).limit(2000)
    val parsed = Demux.parse(lines).persist()
    try {
      val sumSizes = parsed
        .filter(col("err").isNull && col("page").isNotNull)
        .select(coalesce(size(col("displays")), lit(0)).as("n"))
        .agg(sum(col("n"))).collect().head.getLong(0)
      assert(Demux.displays(parsed).count() == sumSizes)
    } finally parsed.unpersist()
  }

  test("LWW compaction: exactly one survivor per key, the max-order one") {
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 5), Gen.choose(0, 100)))) {
      pairs =>
        val df = pairs.zipWithIndex
          .map { case ((k, v), i) => (k.toLong, v.toLong, i.toLong) }
          .toDF("k", "v", "seq")
        val out = Cdc.lastWriteWins(df, Seq(col("k")), Seq(col("seq")))
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        val expect = pairs.zipWithIndex
          .groupBy(_._1._1).map { case (k, xs) =>
            k.toLong -> xs.map(_._2.toLong).max }
        assert(out == expect)
    }
  }

  test("agg-form dedup == window-form on unique order keys") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val a = Text.exactDedup(docs).select("doc_id")
      .as[Long].collect().sorted.toSeq
    val b = Text.exactDedupWindow(docs).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(a == b)
  }

  test("shingle invariants: distinct, count bounded by token count") {
    forAll(textGen) { t =>
      val row = Seq(Tuple1(t)).toDF("text")
        .select(graft.functions.tokenShingles(col("text"), 3).as("sh"))
        .collect().head.getSeq[String](0)
      assert(row.distinct.length == row.length)   // distinct
      assert(row.nonEmpty)                        // total function
      val trimmed = org.apache.spark.unsafe.types.UTF8String
        .fromString(t).trim().toString
      val nToks =
        if (trimmed.isEmpty) 0 else trimmed.split("\\s+", -1).length
      if (nToks >= 3) assert(row.length <= nToks - 2)
      else assert(row.length == 1)
    }
  }

  test("minhash signature: length fixed, permutation-monotone under subset") {
    forAll(Gen.nonEmptyListOf(Gen.alphaStr.suchThat(_.nonEmpty))) {
      words =>
        val all = words.distinct
        val half = all.take(math.max(1, all.length / 2))
        def sig(xs: Seq[String]): Seq[Long] =
          Seq(Tuple1(xs)).toDF("sh")
            .select(graft.functions.minhash(col("sh"), 32).as("s"))
            .collect().head.getSeq[Long](0)
        val sAll  = sig(all)
        val sHalf = sig(half)
        assert(sAll.length == 32 && sHalf.length == 32)
        // min over a superset can only be <= per permutation
        assert(sAll.zip(sHalf).forall { case (a, h) => a <= h })
    }
  }

  /** Driver-side twin of Text.tokens + 3-gram shingle sets. */
  private def naiveShingles(text: String): Set[Seq[String]] = {
    val t = text.trim
    val toks = if (t.isEmpty) Seq.empty[String] else t.split("\\s+").toSeq
    if (toks.length < 3) Set.empty
    else toks.sliding(3).map(_.toSeq).toSet
  }

  test("exact jaccard join equals the naive all-pairs computation") {
    val corpusGen = Gen.listOfN(15, textGen)
    forAll(corpusGen, n = 8) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Text.jaccardExactPairs(docs, 0.3).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val sh = texts.zipWithIndex
        .map { case (t, i) => i.toLong -> naiveShingles(t) }
        .filter(_._2.nonEmpty)
      val want = (for {
        (a, sa) <- sh; (b, sb) <- sh if a < b
        inter = (sa & sb).size
        jac = inter.toDouble / (sa.size + sb.size - inter)
        if jac >= 0.3
      } yield (a, b) -> jac).toMap
      assert(got == want)
    }
    graft.Caches.release("text")  // drop the per-iteration track persists
  }

  test("dup clusters equal naive union-find on random graphs") {
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
    forAll(edgeGen, n = 10) { rawEdges =>
      val edges = rawEdges.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // naive union-find over nodes 0..19
      val parent = Array.tabulate(20)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until 20).map(i => i.toLong -> find(i).toLong).toMap
      val docs = (0L until 20L).map(i => (i, s"doc$i"))
        .toDF("doc_id", "text")
      val pairs = edges.toDF("doc_a", "doc_b")
      val got = Text.dupClusters(docs, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want)
    }
  }

  test("chunking covers every token exactly once at stride == window") {
    forAll(textGen, n = 20) { text =>
      val docs = Seq((1L, text)).toDF("doc_id", "text")
      val t = text.trim
      val n = if (t.isEmpty) 0 else t.split("\\s+").length
      val rows = Text.chunkDocs(docs, window = 7, stride = 7).collect()
      if (n == 0) assert(rows.isEmpty)
      else {
        assert(rows.map(_.getAs[Int]("n_tokens")).sum == n)
        assert(rows.length == (n - 1) / 7 + 1)
      }
    }
  }

  test("duplicatedSpans equals the naive window computation") {
    val docGen = Gen.listOfN(4, Gen.listOfN(8,
      Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    forAll(docGen, n = 15) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Text.duplicatedSpans(docs, spanTokens = 3).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"))))
        .toMap
      // naive: per doc the DISTINCT 3-token windows; dup = window
      // appearing in ≥ 2 docs
      val windows = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.split("\\s+").toSeq.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.toMap
      val crossDoc = windows.values.flatten
        .groupBy(identity)
        .collect { case (w, occ) if windows.count(_._2(w)) >= 2 => w }
        .toSet
      val expect = windows.collect {
        case (id, ws) if ws.nonEmpty =>
          id -> ((ws.size.toLong, ws.count(crossDoc).toLong))
      }
      assert(got == expect)
    }
  }

  test("packChunks: per-bucket running-sum reconstruction for any " +
      "chunk table") {
    val chunkGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0L, 9L), Gen.choose(0, 40)))
    forAll(chunkGen, n = 15) { raw =>
      // synthesize a chunk table: one row per (doc, position)
      val chunks = raw.zipWithIndex
        .map { case ((doc, n), i) => (doc, i, n) }
        .toDF("doc_id", "chunk_id", "n_tokens")
      val got = Text.packChunks(chunks, seqTokens = 16, nBuckets = 3)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
          r.getAs[Long]("bucket"), r.getAs[Int]("n_tokens"),
          r.getAs[Long]("seq_id"), r.getAs[Long]("seq_off")))
      assert(got.length == raw.length)
      got.groupBy(_._3).values.foreach { rows =>
        var off = 0L
        rows.sortBy(r => (r._1, r._2)).foreach {
          case (_, _, _, n, seqId, seqOff) =>
            assert(seqId == off / 16 && seqOff == off % 16)
            off += n
        }
      }
    }
  }

  test("packChunksFirstFit equals the naive greedy walk for any " +
      "chunk table") {
    val chunkGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0L, 9L), Gen.choose(1, 40)))
    forAll(chunkGen, n = 12) { raw =>
      val S = 16
      val chunks = raw.zipWithIndex
        .map { case ((doc, n), i) => (doc, i, n) }
        .toDF("doc_id", "chunk_id", "n_tokens")
      val got = Text.packChunksFirstFit(chunks, seqTokens = S,
        nBuckets = 3).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
          r.getAs[Long]("bucket"), r.getAs[Int]("n_tokens"),
          r.getAs[Long]("seq_id"), r.getAs[Long]("seq_off")))
      assert(got.length == raw.length)
      got.groupBy(_._3).values.foreach { rows =>
        var seq = 0L; var fill = 0L
        rows.sortBy(r => (r._1, r._2)).foreach {
          case (_, _, _, n, seqId, seqOff) =>
            if (fill > 0 && fill + n > S) { seq += 1; fill = 0L }
            assert(seqId == seq && seqOff == fill)
            fill += n
        }
      }
    }
  }

  test("incrementalDedup equals naive set logic for any batch/seen") {
    val tGen = Gen.listOf(Gen.oneOf("p q", "r s", "t u", "v w", "x y"))
    forAll(Gen.zip(tGen, tGen), n = 15) { case (batchT, seenT) =>
      val batch = batchT.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val seen = seenT.zipWithIndex
        .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
      val got = Text.incrementalDedup(batch, seen)
        .select("doc_id").as[Long].collect().toSet
      val expect = batchT.zipWithIndex
        .filterNot { case (t, _) => seenT.contains(t) }
        .groupBy(_._1).values.map(_.map(_._2).min.toLong).toSet
      assert(got == expect)
    }
  }

  test("tokenBudgetSample: admitted set is the exact draw-order " +
      "prefix under budget") {
    val docGen = Gen.nonEmptyListOf(Gen.choose(0, 6))
    forAll(docGen, n = 15) { sizes =>
      val docs = sizes.zipWithIndex.map { case (n, i) =>
        (i.toLong, (1 to n).map(j => s"t$j").mkString(" "), "en")
      }.toDF("doc_id", "text", "lang")
      val budget = 10L
      val got = Text.tokenBudgetSample(docs, Seq("en" -> budget))
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Long]("cum_before")).toMap
      // naive: sort by (draw, doc_id) with the same md5-60 draw
      def draw(id: Long): BigInt = BigInt(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$id:budget".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15), 16)
      var cum = 0L
      val expect = sizes.zipWithIndex
        .map { case (n, i) => (i.toLong, n.toLong) }
        .sortBy { case (id, _) => (draw(id), id) }
        .flatMap { case (id, n) =>
          val before = cum; cum += n
          if (before < budget) Some(id -> before) else None
        }.toMap
      assert(got == expect)
    }
  }

  test("unigram/bigram scores equal the naive frequency computation") {
    val docGen = Gen.listOfN(5, Gen.listOf(Gen.oneOf(
      "a", "b", "c", "dd", "e")))
    forAll(docGen, n = 10) { docsToks =>
      val docs = docsToks.zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.mkString(" "), "en", "s", 0L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      val nonEmpty = docsToks.map(_.filter(_.nonEmpty))
      val tf = nonEmpty.flatten.groupBy(identity).view.mapValues(_.size)
      val uni = Text.unigramScore(docs).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_toks"), r.getAs[Long]("sum_tf")))).toMap
      nonEmpty.zipWithIndex.filter(_._1.nonEmpty).foreach {
        case (ts, i) =>
          assert(uni(i.toLong) ==
            ((ts.size.toLong, ts.map(t => tf(t).toLong).sum)))
      }
      val pairTf = nonEmpty.flatMap(ts => ts.zip(ts.drop(1)))
        .groupBy(identity).view.mapValues(_.size)
      val bi = Text.bigramScore(docs).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_pairs"),
            r.getAs[Long]("sum_pair_tf")))).toMap
      nonEmpty.zipWithIndex.filter(_._1.size >= 2).foreach {
        case (ts, i) =>
          val pairs = ts.zip(ts.drop(1))
          assert(bi(i.toLong) ==
            ((pairs.size.toLong,
              pairs.map(p => pairTf(p).toLong).sum)))
      }
    }
  }

  test("lengthBuckets: doc conservation and bucket tightness") {
    val docGen = Gen.nonEmptyListOf(Gen.choose(1, 200))
    forAll(docGen, n = 15) { sizes =>
      val docs = sizes.zipWithIndex.map { case (n, i) =>
        (i.toLong, (1 to n).map(j => s"w$j").mkString(" "), "en", "s",
          0L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      val b = Text.lengthBuckets(docs).collect().map(r =>
        (r.getAs[Long]("bucket"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("sum_tokens"), r.getAs[Long]("waste_tokens")))
      assert(b.map(_._2).sum == sizes.size)          // every doc lands
      assert(b.map(_._3).sum == sizes.map(_.toLong).sum)
      b.foreach { case (bucket, nDocs, sumToks, waste) =>
        assert((bucket & (bucket - 1)) == 0L)        // power of two
        assert(waste == bucket * nDocs - sumToks && waste >= 0)
        // tightness: every doc in the bucket is > bucket/2 tokens
        assert(sumToks > bucket / 2 * nDocs || bucket == 1L)
      }
    }
  }

  test("sourceOverlap: intersection bounded by set sizes, jaccard " +
      "consistent") {
    val srcGen = Gen.listOfN(3,
      Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e")))
    forAll(srcGen, n = 15) { perSrc =>
      val docs = perSrc.zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.mkString(" "), "en", s"s$i", 0L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      Text.sourceOverlap(docs).collect().foreach { r =>
        val (inter, na, nb) = (r.getAs[Long]("inter"),
          r.getAs[Long]("na"), r.getAs[Long]("nb"))
        assert(inter >= 1 && inter <= math.min(na, nb))
        assert(math.abs(r.getAs[Double]("jaccard") -
          inter.toDouble / (na + nb - inter)) < 1e-15)
      }
    }
  }

  test("scrubDuplicatedBlocks equals the naive first-occurrence scan") {
    val docGen = Gen.nonEmptyListOf(
      Gen.listOf(Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    forAll(docGen, n = 15) { texts =>
      val B = 2
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      // naive: single pass in (doc_id, block_idx) order, first
      // occurrence of each block content wins
      val seen = scala.collection.mutable.Set.empty[String]
      val want = texts.zipWithIndex.map { case (t, i) =>
        val toks = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
        val nBlocks = toks.size / B
        val blocks = (0 until nBlocks)
          .map(j => toks.slice(j * B, j * B + B).mkString(" "))
        val kept = blocks.filter { b =>
          if (seen.contains(b)) false else { seen.add(b); true }
        }
        val tail = toks.drop(nBlocks * B).mkString(" ")
        val clean = (kept :+ tail).filter(_.nonEmpty).mkString(" ")
        i.toLong -> ((clean, nBlocks, nBlocks - kept.size))
      }.toMap
      val got = Text.scrubDuplicatedBlocks(docs, blockTokens = B)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("clean_text"), r.getAs[Int]("n_blocks"),
            r.getAs[Int]("n_dropped")))).toMap
      assert(got == want, s"got $got\nwant $want")
    }
  }

  test("dupClusterSurvivors: survivor is a member, counts partition " +
      "the corpus") {
    val assignGen = Gen.nonEmptyListOf(Gen.choose(0, 4))
    forAll(assignGen, n = 15) { roots =>
      val docs = roots.zipWithIndex.map { case (root, i) =>
        (i.toLong, s"doc text $i ${"pad " * (i % 3)}", "en", "s",
          10L + i)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      val clusters = roots.zipWithIndex
        .map { case (root, i) => (i.toLong, root.toLong) }
        .toDF("doc_id", "cluster")
      val members = roots.zipWithIndex
        .groupMap { case (root, _) => root.toLong } {
          case (_, i) => i.toLong }
      val rows = Text.dupClusterSurvivors(docs, clusters).collect()
      assert(rows.map(_.getAs[Long]("n_members")).sum == roots.size)
      rows.foreach { r =>
        val c = r.getAs[Long]("cluster")
        assert(members(c).contains(r.getAs[Long]("survivor_doc_id")))
        assert(r.getAs[Long]("n_members") == members(c).size.toLong)
        assert(r.getAs[Long]("n_dropped") ==
          r.getAs[Long]("n_members") - 1)
      }
    }
  }

  test("semanticContamination equals the naive cosine filter") {
    val vGen = Gen.listOfN(4, Gen.chooseNum(-100, 100).map(_ / 100.0f))
    val setGen = Gen.zip(
      Gen.nonEmptyListOf(vGen), Gen.nonEmptyListOf(vGen))
    forAll(setGen, n = 10) { case (corpusV, evalV) =>
      val corpus = corpusV.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray, 0) }
        .toDF("vec_id", "embedding", "label")
      val ev = evalV.zipWithIndex
        .map { case (v, i) => (100L + i, v.toArray, 0) }
        .toDF("vec_id", "embedding", "label")
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        val dot = a.zip(b).map { case (x, y) =>
          x.toDouble * y.toDouble }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
        dot / (na * nb)
      }
      val want = corpusV.zipWithIndex.flatMap { case (c, i) =>
        val sims = evalV.map(e => cos(c, e)).filter(s => s >= 0.8)
        if (sims.isEmpty) None
        else Some(i.toLong -> ((sims.size.toLong, sims.max)))
      }.toMap
      val got = graft.ops.Vector
        .semanticContamination(corpus, ev, threshold = 0.8)
        .collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("n_eval_hits"),
            r.getAs[Double]("max_sim")))).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (k, (n, m)) =>
        assert(n == want(k)._1 && math.abs(m - want(k)._2) < 1e-9)
      }
    }
  }

  test("deterministicSplit partitions any corpus for any legal " +
      "fractions; proportions track nominal") {
    val fracGen = for {
      a <- Gen.chooseNum(0, 80)
      b <- Gen.chooseNum(0, 100 - a - 10)
    } yield Seq("train" -> a / 100.0, "val" -> b / 100.0)
    val d = Seq.tabulate(300)(i => (i.toLong, s"t$i"))
      .toDF("doc_id", "text").persist()
    try forAll(fracGen, n = 10) { fracs =>
      val got = Text.deterministicSplit(d, fracs).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split"))
      assert(got.length == 300) // total cover, exactly once
      val byName = got.groupBy(_._2).view.mapValues(_.length).toMap
      // every doc is in a declared split or held_out, nothing else
      assert(byName.keySet.subsetOf(
        fracs.map(_._1).toSet + "held_out"))
      // proportion of each declared split within a generous CLT band
      fracs.foreach { case (name, f) =>
        val n = byName.getOrElse(name, 0)
        assert(math.abs(n - 300.0 * f) <= 3 * math.sqrt(300.0 * 0.25) + 1,
          s"split $name: $n docs at fraction $f")
      }
    } finally d.unpersist()
  }

  test("trainingShuffleShards is a permutation for any shard count") {
    val d = Seq.tabulate(120)(i => (i.toLong, s"t$i"))
      .toDF("doc_id", "text").persist()
    try forAll(Gen.chooseNum(1, 16), n = 8) { nShards =>
      val got = Text.trainingShuffleShards(d, nShards).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"),
          r.getAs[Int]("shard_rank")))
      assert(got.length == 120 && got.map(_._1).distinct.length == 120)
      assert(got.forall(x => x._2 >= 0 && x._2 < nShards))
      got.groupBy(_._2).values.foreach { rows =>
        assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
      }
    } finally d.unpersist()
  }

  test("unimaxBudgets: allocation is conserved, capped, and " +
      "monotone-fair for any corpus and budget") {
    val corpusGen = for {
      nLangs <- Gen.chooseNum(1, 6)
      sizes <- Gen.listOfN(nLangs, Gen.chooseNum(0, 40))
    } yield sizes.zipWithIndex.map { case (s, i) => (s"l$i", s) }
    forAll(Gen.zip(corpusGen, Gen.chooseNum(0, 300),
      Gen.chooseNum(1, 3)), n = 15) { case (langs, budget, cap) =>
      val rows = langs.zipWithIndex.map { case ((lang, sz), i) =>
        (i.toLong, Seq.fill(sz)("w").mkString(" "), lang, "s", 1L)
      }
      val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      val alloc = Text.unimaxBudgets(d, budget.toLong, cap)
      val bySize = langs.toMap
      // one entry per language; each within [0, cap × size]; total
      // never exceeds the budget
      assert(alloc.map(_._1).sorted == langs.map(_._1).sorted)
      alloc.foreach { case (lang, b) =>
        assert(b >= 0 && b <= bySize(lang).toLong * cap,
          s"$lang allocated $b of ${bySize(lang)} × $cap")
      }
      assert(alloc.map(_._2).sum <= budget)
      // fairness: if anything was left unallocated, every language
      // must be saturated at its cap (waterfilling leaves no slack
      // while demand remains)
      if (alloc.map(_._2).sum < budget) {
        alloc.foreach { case (lang, b) =>
          assert(b == bySize(lang).toLong * cap)
        }
      }
    }
  }

  test("dsirWeights: every token's raw-bucket count covers the " +
      "token itself (sum_cr >= n_toks for any corpus)") {
    val docGen = Gen.listOfN(3, textGen)
    forAll(docGen, n = 10) { texts =>
      val nonEmpty = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "s", 1L)
      }
      val raw = nonEmpty.toDF("doc_id", "text", "lang", "source",
        "n_chars")
      val target = Seq((100L, "unrelatedtargettoken", "en", "s", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val w = Text.dsirWeights(raw, target, nBuckets = 16).collect()
      w.foreach { r =>
        val n = r.getAs[Long]("n_toks")
        // each of the doc's tokens contributes >= 1 to its own raw
        // bucket, so sum_cr >= n_toks always
        assert(r.getAs[Long]("sum_cr") >= n)
        assert(n >= 1)
      }
    }
  }

  test("compactionPlan invariants on generated file lists: bins " +
      "respect the target or hold one file; offsets reconstruct") {
    val fileGen = Gen.listOfN(40,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(1L, 3000L)))
    forAll(fileGen, n = 10) { fs =>
      val files = fs.zipWithIndex
        .map { case ((pk, sz), i) => (pk, i.toLong, sz) }
        .toDF("part_key", "file_id", "bytes")
      val plan = graft.ops.Layout.compactionPlan(files, 2000L)
        .collect()
        .map(r => (r.getAs[String]("part_key"),
          r.getAs[Long]("file_id"), r.getAs[Long]("bytes"),
          r.getAs[Long]("bin_id"), r.getAs[Long]("bin_off")))
      assert(plan.length == fs.length)
      plan.groupBy(t => (t._1, t._4)).foreach { case (_, bin) =>
        val tot = bin.map(_._3).sum
        assert(tot <= 2000L || bin.length == 1)
        // offsets are the prefix sums of the bin's files in id order
        val sorted = bin.sortBy(_._2)
        var acc = 0L
        sorted.foreach { t => assert(t._5 == acc); acc += t._3 }
      }
      // bins are contiguous per partition: 0..maxBin all non-empty
      plan.groupBy(_._1).foreach { case (_, part) =>
        val bins = part.map(_._4).toSet
        assert(bins == (0L to bins.max).toSet)
      }
    }
  }

  test("rrfFuse equals the in-memory formula for generated rankings") {
    val rankingGen = Gen.zip(
      Gen.someOf(0L to 15L).map(_.toList),
      Gen.someOf(0L to 15L).map(_.toList))
    forAll(rankingGen, n = 10) { case (idsA, idsB) =>
      if (idsA.nonEmpty || idsB.nonEmpty) {
        def rank(ids: List[Long]) = ids.zipWithIndex
          .map { case (id, i) => (id, i + 1) }
        val dfs = Seq(rank(idsA), rank(idsB))
          .filter(_.nonEmpty).map(_.toDF("id", "rank"))
        val got = graft.ops.Vector.rrfFuse(dfs, k = 32).collect()
          .map(r => r.getAs[Long]("id") ->
            r.getAs[Long]("rrf_score_q20")).toMap
        val exp = (rank(idsA) ++ rank(idsB))
          .groupBy(_._1)
          .map { case (id, rs) =>
            id -> rs.map(t => 1048576L / (60L + t._2)).sum
          }
        assert(got == exp)
      }
    }
  }

  test("weightedSample: any weights -> exactly min(k, n) rows, " +
      "deterministic, keys sorted") {
    val wGen = Gen.listOfN(12, Gen.chooseNum(0L, 5000L))
    forAll(wGen, n = 15) { ws =>
      val docs = ws.zipWithIndex.map { case (w, i) =>
        (i.toLong, s"d$i", "en", "s", w)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      val out = Text.weightedSample(docs, 5, col("n_chars")).collect()
      assert(out.length == math.min(5, ws.length))
      val keys = out.map(_.getAs[Long]("key_q20"))
      assert(keys.sameElements(keys.sorted.reverse)) // best-first
      val again = Text.weightedSample(docs, 5, col("n_chars"))
        .collect().map(_.getAs[Long]("doc_id"))
      assert(again.sameElements(out.map(_.getAs[Long]("doc_id"))))
    }
  }

  test("rankingMetrics: nDCG in [0, 1e6], rr in {0} u [2^20/k, 2^20]") {
    val permGen = Gen.listOfN(4, Gen.chooseNum(0, 9)).map(_.distinct)
    forAll(permGen, n = 15) { ids =>
      val truth = Seq((1L, 100L, 1), (1L, 101L, 2), (1L, 102L, 3))
        .toDF("query_id", "vec_id", "rank")
      val ranked = ids.zipWithIndex
        .map { case (v, i) => (1L, 100L + v, i + 1) }
        .toDF("query_id", "vec_id", "rank")
      val rows = graft.ops.Vector.rankingMetrics(ranked, truth, 3)
        .collect()
      rows.foreach { r =>
        val ndcg = r.getAs[Long]("ndcg_ppm")
        val rr = r.getAs[Long]("rr_q20")
        assert(ndcg >= 0L && ndcg <= 1000000L)
        assert(rr == 0L || (rr >= 1048576L / 3 && rr <= 1048576L))
      }
    }
  }

  test("int8 quantization round-trip error is within one step") {
    val vecGen = Gen.listOfN(8,
      Gen.chooseNum(-1000, 1000).map(_ / 100.0f))
    forAll(vecGen, n = 20) { xs =>
      val df = Seq((1L, xs.toArray, 0)).toDF("vec_id", "embedding", "label")
      val r = graft.ops.Vector.quantizeInt8(df).collect().head
      val scale = r.getAs[Double]("scale")
      val q = r.getSeq[Int](r.fieldIndex("qvec")).toList
      assert(q.forall(v => v >= -128 && v <= 127))
      xs.zip(q).foreach { case (x, qi) =>
        val back = if (scale == 0) 0.0 else qi * scale / 127.0
        assert(math.abs(x - back) <= scale / 127.0 + 1e-12)
      }
    }
  }

  test("snapshot MERGE apply == sequential replay for random op feeds") {
    val opsGen = Gen.listOf(Gen.zip(Gen.choose(0, 3),
      Gen.choose(0, 2), Gen.choose(1, 99)))
    forAll(opsGen, n = 10) { events =>
      // driver-side replay is the semantic reference
      val state = scala.collection.mutable.Map[Int, String]()
      val delta = scala.collection.mutable.ListBuffer[
        (Long, String, String, Int)]()
      events.zipWithIndex.foreach { case ((k, opSel, pay), seq) =>
        val p = s"p$pay"
        opSel match {
          case 0 => state(k) = p; delta += ((k.toLong, p, "I", seq))
          case 1 => state(k) = p; delta += ((k.toLong, p, "U", seq))
          case _ =>
            state.remove(k); delta += ((k.toLong, p, "D", seq))
        }
      }
      if (delta.nonEmpty) {
        val base = Seq((9L, "base")).toDF("k", "payload")
        val out = Cdc.applySnapshot(base,
            delta.toSeq.toDF("k", "payload", "op", "seq"),
            Seq("k"), col("seq"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toMap
        val expected = state.map { case (k, v) => k.toLong -> v }
          .toMap + (9L -> "base")
        assert(out == expected, s"delta=$delta")
      }
    }
  }

  test("incremental view maintenance == recompute for random I/U/D feeds") {
    // ops applied in sequence per key against an initially-empty
    // view; U always carries the current value, D the stored one
    val opsGen = Gen.listOf(Gen.zip(Gen.choose(0, 3), // key space
      Gen.choose(1, 99))) // payload cents
    forAll(opsGen, n = 12) { events =>
      // replay driver-side to build a CONSISTENT delta + final state
      val state = scala.collection.mutable.Map[Int, Double]()
      val delta = scala.collection.mutable.ListBuffer[
        (String, String, Double, Option[Double])]()
      events.foreach { case (k, cents) =>
        val v = cents / 4.0
        state.get(k) match {
          case None =>
            state(k) = v
            delta += ((s"k$k", "I", v, None))
          case Some(old) if cents % 3 == 0 =>
            state.remove(k)
            delta += ((s"k$k", "D", old, None))
          case Some(old) =>
            state(k) = v
            delta += ((s"k$k", "U", v, Some(old)))
        }
      }
      if (delta.nonEmpty) {
        val base = Seq.empty[(String, Double, Long)]
          .toDF("key", "sum_v", "n_rows")
        val out = Cdc.maintainSumCount(base,
            delta.toSeq.toDF("key", "op", "v", "old_v"))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
          .toMap
        val expected = state.map { case (k, v) => s"k$k" -> (1L, v) }
        assert(out == expected.toMap,
          s"delta=$delta out=$out expected=$expected")
      }
    }
  }

  test("isotonic fit is monotone non-decreasing and bounded by the " +
      "raw rate range for ANY binned input") {
    val frameGen = Gen.listOfN(6,
      Gen.zip(Gen.choose(1, 12), Gen.choose(0, 12)))
    forAll(frameGen, n = 8) { bins =>
      // bin i gets n rows with pos <= n positives
      val rows = bins.zipWithIndex.flatMap { case ((n0, p0), i) =>
        val n = n0 max 1; val p = p0 min n
        (0 until p).map(_ => (i * 4L, 1L)) ++
          (p until n).map(_ => (i * 4L, 0L))
      }
      val out = graft.ops.Audit.isotonicCalibration(
        rows.toDF("score_scaled", "y"), "score_scaled", "y",
        scaleBits = 5, nBins = 8).collect()
        .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("raw_rate_milli"),
          r.getAs[Long]("fit_milli"))).sortBy(_._1)
      val fits = out.map(_._3)
      assert(fits.zip(fits.tail).forall { case (a, b) => a <= b },
        s"fit not monotone: ${out.toList}")
      val raws = out.map(_._2)
      // minimax fit lives inside the raw rate envelope (floor slack 1)
      assert(fits.forall(f => f >= raws.min - 1 && f <= raws.max + 1),
        s"fit escapes the raw envelope: ${out.toList}")
    }
  }

  test("kneserNey head rows are internally consistent for ANY corpus " +
      "(ppm in range, fertility <= history mass, discount never " +
      "exceeds the count)") {
    forAll(Gen.listOfN(8, textGen), n = 6) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = graft.ops.Text.kneserNeyBigrams(docs, topN = 20)
        .collect()
      out.foreach { r =>
        val kn = r.getAs[Long]("kn_ppm")
        val cont = r.getAs[Long]("cont_ppm")
        assert(kn >= 0 && kn <= 1000000, s"kn_ppm out of range: $kn")
        assert(cont >= 0 && cont <= 1000000)
        assert(r.getAs[Long]("fert_w1") <= r.getAs[Long]("c_w1"))
        assert(r.getAs[Long]("c") <= r.getAs[Long]("c_w1"))
      }
      graft.Caches.release("text")
    }
  }

  test("abQuantileLift: flipping the assignment swaps arms and " +
      "negates every percentile diff") {
    val valGen = Gen.listOfN(12, Gen.choose(1, 500))
    forAll(valGen, n = 6) { vs =>
      val ev = vs.zipWithIndex.map { case (v, i) =>
        (i.toLong, "purchase", v.toDouble / 7.0, i.toLong * 31) }
        .toDF("user_id", "event_type", "value", "event_id")
      def run(flip: Boolean) = graft.ops.Affinity.abQuantileLift(ev,
          if (flip) col("user_id") % 2 === 0
          else col("user_id") % 2 === 1)
        .collect()
        .map(r => r.getAs[Int]("pct") ->
          (r.getAs[Long]("ctrl_milli"), r.getAs[Long]("treat_milli"),
            r.getAs[Long]("diff_milli"))).toMap
      val a = run(false); val b = run(true)
      a.keySet.foreach { p =>
        assert(a(p)._1 == b(p)._2 && a(p)._2 == b(p)._1 &&
          a(p)._3 == -b(p)._3, s"p$p: ${a(p)} vs ${b(p)}")
      }
    }
  }

  test("holtWintersBacktest matches the independent scala replica " +
      "for ANY daily series") {
    val seriesGen = Gen.listOfN(17, Gen.choose(1, 30))
    forAll(seriesGen, n = 5) { ys =>
      val rows = ys.zipWithIndex.flatMap { case (n, d) =>
        val day = java.time.LocalDate.ofEpochDay(d.toLong).toString
        Seq.fill(n)(("a", s"$day 06:00:00"))
      }
      val out = graft.ops.Audit.holtWintersBacktest(
        rows.toDF("event_type", "ts")).collect().head
      def tdiv(v: Long) = if (v < 0) -((-v) / 1000) else v / 1000
      var l = 0L; var b = 0L; var sae = 0L; var nsc = 0L
      var seen = 0L
      val s = Array.fill[Option[Long]](7)(None)
      for ((n, d) <- ys.zipWithIndex) {
        val y = n * 1000L; val i = d % 7
        s(i) match {
          case None =>
            val lEff = if (seen == 0) y else l
            s(i) = Some(y - lEff); l = lEff
          case Some(sc) =>
            sae += math.abs(y - (l + b + sc)); nsc += 1
            val lNew = tdiv(500 * (y - sc) + 500 * (l + b))
            b = tdiv(250 * (lNew - l) + 750 * b)
            s(i) = Some(tdiv(250 * (y - lNew) + 750 * sc))
            l = lNew
        }
        seen += 1
      }
      assert(out.getAs[Long]("level_milli") === l, s"series $ys")
      assert(out.getAs[Long]("trend_milli") === b, s"series $ys")
      assert(out.getAs[Long]("n_scored") === nsc)
      assert(out.getAs[Long]("mae_milli") === sae / (nsc max 1L))
    }
  }

  test("kaplanMeier properties: survival non-increasing, first risk " +
      "set = all users, exits conserve the population") {
    import graft.ops.Audit
    val gen = for {
      nUsers <- Gen.choose(3, 12)
      spans <- Gen.listOfN(nUsers, for {
        f <- Gen.choose(0, 15)
        len <- Gen.choose(0, 20)
      } yield (f, (f + len) min 24))
    } yield spans
    forAll(gen, n = 12) { spans =>
      def d(day: Int) = f"2024-01-${day + 1}%02d"
      val rows = spans.zipWithIndex.flatMap { case ((f, l), u) =>
        Seq(("a", u.toLong, d(f)), ("a", u.toLong, d(l)))
      }
      val out = graft.ops.Audit.kaplanMeier(
        rows.toDF("event_type", "user_id", "ts")).collect()
        .sortBy(_.getAs[Long]("t"))
      assert(out.head.getAs[Long]("n_risk") === spans.size.toLong,
        s"spans $spans")
      val sQ = out.map(_.getAs[Long]("s_q20"))
      assert(sQ.zip(sQ.tail).forall { case (a, b) => b <= a },
        s"survival must not increase: ${sQ.toSeq} ($spans)")
      assert(out.map(r => r.getAs[Long]("d_churned") +
        r.getAs[Long]("c_censored")).sum === spans.size.toLong)
      assert(sQ.forall(s => s >= 0 && s <= 1048576L))
    }
  }

  test("theilSenTrend breakdown: one corrupted day cannot move the " +
      "Sen slope off an exactly-linear series; OLS has no such " +
      "guarantee") {
    import graft.ops.Audit
    val gen = for {
      nDays <- Gen.choose(5, 9)
      m <- Gen.choose(0, 4) // slope counts/day
      c0 <- Gen.choose(1, 5)
      spikeAt <- Gen.choose(0, nDays - 1)
      spike <- Gen.choose(50, 200)
    } yield (nDays, m, c0, spikeAt, spike)
    forAll(gen, n = 12) { case (nDays, m, c0, spikeAt, spike) =>
      def d(day: Int) = f"2024-01-${day + 1}%02d"
      val xs = (0 until nDays).map(i =>
        if (i == spikeAt) spike else c0 + m * i)
      val rows = xs.zipWithIndex.flatMap { case (x, i) =>
        Seq.fill(x)(("a", d(i)))
      }
      val out = Audit.theilSenTrend(rows.toDF("event_type", "ts"))
        .collect().head
      // clean pairs (those avoiding the spike) all have slope
      // exactly m*1000 and outnumber spike pairs (n-1 of C(n,2)),
      // so the median is exactly the clean slope
      assert(out.getAs[Long]("sen_slope_milli") === m * 1000L,
        s"xs $xs")
    }
  }

  test("brierDecomposition bounds: all components in range on " +
      "arbitrary score/label sets") {
    import graft.ops.Audit
    val gen = Gen.nonEmptyListOf(for {
      sc <- Gen.choose(0L, 2047L)
      y <- Gen.oneOf(0L, 1L)
    } yield (sc, y))
    forAll(gen, n = 12) { rows =>
      val r = Audit.brierDecomposition(rows.toDF("sc", "y"),
        "sc", "y", scaleBits = 11, nBins = 16).collect().head
      val (b, rel, res, unc) = (r.getAs[Long]("brier_micro"),
        r.getAs[Long]("rel_micro"), r.getAs[Long]("res_micro"),
        r.getAs[Long]("unc_micro"))
      assert(b >= 0 && b <= 1000000L, s"brier $b")
      assert(rel >= 0, s"rel $rel")
      assert(res >= 0, s"res $res")
      assert(unc >= 0 && unc <= 250000L, s"unc $unc")
    }
  }

  test("bloomAdvisor tracks the real-valued FPP within chain-floor " +
      "tolerance on random file populations") {
    import graft.ops.Layout
    val gen = Gen.nonEmptyListOf(Gen.choose(1, 60))
      .map(_.take(4).zipWithIndex)
    forAll(gen, n = 8) { files =>
      val keyed = files.flatMap { case (nk, f) =>
        (0 until nk).map(i => (f.toLong, i.toLong * 7 + f))
      }.toDF("file_id", "key")
      val out = Layout.bloomAdvisor(keyed, "file_id", "key",
        mBitsChoices = Seq(1 << 14, 1 << 16), kChoices = Seq(1, 5))
        .collect()
      for (r <- out) {
        val (m, k, nk, fpp) = (r.getAs[Int]("m_bits"),
          r.getAs[Int]("k"), r.getAs[Long]("n_keys"),
          r.getAs[Long]("fpp_ppm"))
        val real = math.pow(
          1.0 - math.pow(1.0 - 1.0 / m, k * nk), k) * 1e6
        assert(math.abs(fpp - real) <= 2000.0,
          s"m=$m k=$k n=$nk fpp=$fpp real=$real")
      }
    }
  }

  test("seqPatterns matches a brute-force subsequence counter on " +
      "random tiny corpora (Apriori is lossless)") {
    val docGen = Gen.listOfN(5,
      Gen.listOf(Gen.oneOf("a", "b", "c", "d")).map(_.take(8)))
    forAll(docGen, n = 8) { ds =>
      val docs = ds.zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.mkString(" "), "en", "s", 1L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      val ppm = 400000L
      val out = Text.seqPatterns(docs, ppm).collect()
        .map(r => (r.getAs[String]("tok_a"), r.getAs[String]("tok_b"),
          r.getAs[String]("tok_c")) -> r.getAs[Long]("support"))
        .toMap
      val th = (ds.size * ppm + 999999L) / 1000000L
      def hasSub(doc: List[String],
          p: (String, String, String)): Boolean = {
        val i1 = doc.indexOf(p._1)
        if (i1 < 0) false
        else {
          val rest = doc.drop(i1 + 1)
          val i2 = rest.indexOf(p._2)
          i2 >= 0 && rest.drop(i2 + 1).contains(p._3)
        }
      }
      val alpha = Seq("a", "b", "c", "d")
      val expected = (for {
        a <- alpha; b <- alpha; c <- alpha
        sup = ds.count(d => hasSub(d, (a, b, c))).toLong
        if sup >= th
      } yield (a, b, c) -> sup).toMap
      assert(out == expected, s"corpus=$ds th=$th")
    }
  }

  test("weightedJaccard matches a multiset min/max reference on " +
      "random corpora and arbitrary candidate pairs") {
    val corpusGen = Gen.listOfN(4,
      Gen.listOf(Gen.oneOf("x", "y", "z")).map(_.take(6)))
    forAll(corpusGen, n = 8) { ds =>
      val docs = ds.zipWithIndex.map { case (ts, i) =>
        ((i + 1).toLong, ts.mkString(" "), "en", "s", 1L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.9), (2L, 4L, 0.9))
        .toDF("doc_a", "doc_b", "jaccard")
      val out = Text.weightedJaccard(docs, pairs).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
          ((r.getAs[Long]("inter_tf"), r.getAs[Long]("union_tf"),
            r.getAs[Long]("weighted_jaccard_ppm"))))
        .toMap
      assert(out.size == 3)
      for (((a, b), (i, u, p)) <- out) {
        val ta = ds(a.toInt - 1)
        val tb = ds(b.toInt - 1)
        val inter = (ta ++ tb).distinct.map(k =>
          math.min(ta.count(_ == k), tb.count(_ == k)).toLong).sum
        val union = ta.size + tb.size - inter
        assert(i == inter && u == union, s"pair ($a,$b) corpus=$ds")
        assert(p == (if (union > 0) i * 1000000L / union else 0L))
      }
    }
  }

  test("ringRebalance matches an independent replay of ring and " +
      "mod ownership on random id sets") {
    val idsGen = Gen.listOfN(60, Gen.choose(0L, 5000L))
      .map(_.distinct).suchThat(_.nonEmpty)
    forAll(idsGen, n = 5) { ids =>
      val docs = ids.map(i => (i, "t", "en", "s", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val out = Text.ringRebalance(docs, Seq((8, 9)), 16).collect()
        .map(r => r.getAs[String]("strategy") ->
          r.getAs[Long]("n_moved")).toMap
      val P = 2147483647L
      def dpos(id: Long): Long =
        (BigInt(id) * 2654435761L).mod(BigInt(P)).toLong
      def keys(nS: Int): Seq[Long] =
        for { s <- 0 until nS; v <- 0 until 16 } yield {
          val x = s.toLong * 65521L + v
          ((x * x % P) * 2654435761L + x * 65521L) % P * 1024L +
            s.toLong * 16 + v
        }
      def owner(nS: Int, dp: Long): Long = {
        val ks = keys(nS)
        val cands = ks.filter(_ >= dp * 1024L)
        val ck = if (cands.nonEmpty) cands.min else ks.min
        (ck % 1024L) / 16L
      }
      val ringMv = ids.count(i => owner(8, dpos(i)) != owner(9, dpos(i))).toLong
      val modMv = ids.count(i => dpos(i) % 8 != dpos(i) % 9).toLong
      assert(out("ring") == ringMv, s"ids=$ids")
      assert(out("mod") == modMv, s"ids=$ids")
    }
  }

  test("queueBacklog matches a sequential Lindley fold on random " +
      "arrival/service streams; waits non-negative, utilization " +
      "bounded") {
    import graft.ops.Relational
    val evGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(0L, 20000L), Gen.choose(0.0, 3.0)))
    forAll(evGen, n = 8) { evs =>
      val rows = evs.zipWithIndex.map { case ((ams, v), i) =>
        ("t", i.toLong, new java.sql.Timestamp(ams), v)
      }
      val df = rows.toDF("event_type", "event_id", "ts", "value")
      val r = Relational.queueBacklog(df).collect().head
      // sequential replay in arrival-(ms, id) order
      val ordered = rows.map { case (_, id, ts, v) =>
        (ts.getTime, id, math.max(0L, math.floor(v * 1000.0).toLong))
      }.sortBy(t => (t._1, t._2))
      var c = 0L; var totW = 0L; var maxW = 0L; var busy = 0L
      for ((a, _, s) <- ordered) {
        val start = math.max(a, c)
        val w = start - a
        totW += w; maxW = math.max(maxW, w); busy += s
        c = start + s
      }
      assert(r.getAs[Long]("n_events") == ordered.size.toLong)
      assert(r.getAs[Long]("max_wait_ms") == maxW, s"evs=$evs")
      assert(r.getAs[Long]("total_wait_ms") == totW, s"evs=$evs")
      val u = r.getAs[Long]("utilization_ppm")
      assert(u >= 0L && u <= 1000000L)
      val first = ordered.head._1.min(ordered.map(_._1).min)
      if (c > first)
        assert(u == busy * 1000000L / (c - first))
    }
  }

  test("abSequential's final interim reproduces abConversionLift " +
      "exactly (counts and z) on random event streams") {
    import graft.ops.Affinity
    val evGen = Gen.listOfN(20, Gen.zip(
      Gen.choose(1L, 6L),
      Gen.oneOf("purchase", "view"),
      Gen.choose(0, 3)))
    forAll(evGen, n = 8) { evs =>
      // both arms guaranteed non-empty (abConversionLift's rate
      // division requires it — as does any real A/B readout)
      val seeded = evs ++ Seq((101L, "view", 0), (102L, "view", 0))
      val rows = seeded.zipWithIndex.map { case ((u, t, day), i) =>
        (i.toLong, u, t,
          java.sql.Timestamp.valueOf(f"2024-01-0${day + 1}%d 10:00:00"))
      }
      val df = rows.toDF("event_id", "user_id", "event_type", "ts")
      val seqOut = Affinity.abSequential(df,
        col("user_id") % 2 === 1, "purchase", minCount = 1L,
        checks = 3).collect()
        .map(r => r.getAs[Int]("chk") -> r).toMap
      val fin = seqOut(3)
      val lift = Affinity.abConversionLift(df,
        col("user_id") % 2 === 1, "purchase", minCount = 1L).head
      assert(fin.getAs[Long]("n_a") == lift.getAs[Long]("n_a"))
      assert(fin.getAs[Long]("conv_a") == lift.getAs[Long]("conv_a"))
      assert(fin.getAs[Long]("n_b") == lift.getAs[Long]("n_b"))
      assert(fin.getAs[Long]("conv_b") == lift.getAs[Long]("conv_b"))
      val ca = lift.getAs[Long]("conv_a"); val cb = lift.getAs[Long]("conv_b")
      val na = lift.getAs[Long]("n_a"); val nb = lift.getAs[Long]("n_b")
      if (na > 0 && nb > 0 && ca + cb > 0 && ca + cb < na + nb)
        assert(fin.getAs[Long]("z_milli")
          == lift.getAs[Long]("z_milli"))
      else
        assert(fin.getAs[Long]("z_milli") == 0L)
    }
  }

  test("shardDedupLoss conserves pairs (local + lost = total) and " +
      "bounds lost_ppm on random pair graphs") {
    val pairGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 200L), Gen.choose(0L, 200L)))
      .map(_.filter { case (a, b) => a != b }.take(40))
      .suchThat(_.nonEmpty)
    forAll(pairGen, n = 10) { ps =>
      val pairs = ps.map { case (a, b) =>
        (math.min(a, b), math.max(a, b)) }.distinct
        .toDF("doc_a", "doc_b")
      val out = Text.shardDedupLoss(pairs, Seq(2, 8, 32)).collect()
      assert(out.length === 3)
      for (r <- out) {
        val (np, nl, lost, ppm) = (r.getAs[Long]("n_pairs"),
          r.getAs[Long]("n_local"), r.getAs[Long]("n_lost"),
          r.getAs[Long]("lost_ppm"))
        assert(nl + lost === np)
        assert(ppm >= 0 && ppm <= 1000000L)
        assert(ppm === lost * 1000000L / np)
      }
    }
  }

  test("Wilson lower bound shrinks toward the rate as n grows at " +
      "a fixed rate, and never exceeds the raw rate") {
    import graft.ops.Relational
    // fixed 90% rate at n = 10/40/160: the bound must be strictly
    // increasing in n (more evidence -> less shrinkage) and < rate
    val orders = Seq((1L, "2021-01-01")).toDF("o_orderkey", "od")
      .select(col("o_orderkey"), col("od").cast("timestamp")
        .as("o_orderdate"))
    val li = Seq(10, 40, 160).zipWithIndex.flatMap {
      case (n, i) =>
        val sup = (i + 1).toLong
        val on = n * 9 / 10
        (1 to on).map(_ => (1L, sup, "2021-02-01")) ++
          (1 to n - on).map(_ => (1L, sup, "2021-06-01"))
    }.toDF("l_orderkey", "l_suppkey", "sd")
      .select(col("l_orderkey"), col("l_suppkey"),
        col("sd").cast("timestamp").as("l_shipdate"))
    val supp = Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("s_suppkey", "s_name")
    val bySup = Relational.supplierSlaWilson(li, orders, supp)
      .collect().map(r => r.getAs[Long]("s_suppkey") ->
        ((r.getAs[Long]("otif_ppm"), r.getAs[Long]("wilson_lb_ppm"))))
      .toMap
    for ((_, (rate, lb)) <- bySup) assert(lb < rate)
    assert(bySup(1L)._2 < bySup(2L)._2)
    assert(bySup(2L)._2 < bySup(3L)._2)
    // identical 900000 raw rate at every n
    assert(bySup.values.map(_._1).toSet === Set(900000L))
  }

  test("rangeSearch neighborhoods shrink monotonically in tau") {
    import graft.ops.{Vector => Vec}
    val vecGen = Gen.listOfN(12,
      Gen.listOfN(4, Gen.choose(-4, 4).map(_.toFloat)))
    forAll(vecGen, n = 6) { vs =>
      val embs = vs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.toArray) }.toDF("vec_id", "embedding")
      def counts(tau: Double): Map[Long, Long] =
        Vec.rangeSearch(embs, tau = tau, sampleCount = 3).collect()
          .map(r => r.getAs[Long]("query_id") ->
            r.getAs[Long]("n_matches")).toMap
      val loose = counts(0.2)
      val tight = counts(0.9)
      assert(tight.keySet === loose.keySet)
      for ((q, c) <- tight) assert(c <= loose(q),
        s"query $q: $c at 0.9 > ${loose(q)} at 0.2")
    }
  }
}
