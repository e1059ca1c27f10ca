package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Similarity}

/** Quality gates for the LLM-pipeline operators whose signatures are
  * hash-defined and therefore not SQL-oracle-checkable: the LSH paths
  * are validated by recall against their exact ground truths, and the
  * multimodal stub by determinism + checkable invariants.
  */
class LlmOpsSpec extends AnyFunSuite {
  import TestSession._

  test("minhash LSH recall vs exact n-gram Jaccard ground truth") {
    import spark.implicits._
    // ground truth: pairs with true shingle-Jaccard above the LSH
    // curve's high-recall zone (s >= 0.5 -> P[collide] ~ 1 for 8 bands of 4)
    val truth = Dedup.ngramJaccard(spark, sf, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val got = Dedup.minhashLsh(spark, sf)
      .filter($"rep_doc_id" =!= $"doc_id")
      .select("doc_id", "rep_doc_id").as[(Long, Long)].collect()
      .map { case (d, r) => (math.min(d, r), math.max(d, r)) }.toSet
    if (truth.nonEmpty) {
      val hit = truth.count(got.contains)
      assert(hit.toDouble / truth.size >= 0.8,
        s"LSH recall ${hit.toDouble / truth.size} < 0.8 (truth=${truth.size}, got=${got.size})")
    }
    // and LSH must not invent near-dups with negligible true similarity
    val verified = Dedup.ngramJaccard(spark, sf, threshold = 0.015)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.forall(verified.contains), "LSH emitted a pair below the verify threshold")
  }

  test("minhash giant-bucket cap: boilerplate collapses with O(m) star candidates") {
    import spark.implicits._
    import graft.functions.GraftExpressions
    // 120 identical boilerplate docs + 30 distinct docs: the shape that
    // produces a giant LSH bucket (every band collides for identical
    // content) and would emit 120·119/2 pairs per band uncapped
    val boiler = (0 until 120).map(i =>
      (i.toLong, "the same boilerplate footer text repeated verbatim on every single page of this site"))
    val uniq = (0 until 30).map(i =>
      (1000L + i, s"unique document number $i carrying words alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
    val docs = (boiler ++ uniq).toDF("doc_id", "text")
    val reps = Dedup.minhashLshOn(docs, docs.select($"doc_id"), cap = 16)
      .as[(Long, Long)].collect().toMap
    // the whole boilerplate group still collapses to its min id —
    // star edges (member ↔ bucket min) verify at jaccard 1.0
    assert((0 until 120).forall(i => reps(i.toLong) == 0L),
      "capped LSH failed to collapse identical boilerplate to doc 0")
    assert((0 until 30).forall(i => reps(1000L + i) == 1000L + i),
      "a unique doc was falsely deduped")
    // and the candidate set is O(m), not O(m²): 119 star edges instead
    // of 7 140 pairs (identical pairs dedupe across the 8 bands)
    val sh = docs.select($"doc_id",
      GraftExpressions.shingleHashes(split($"text", " "), 3).as("sh"))
    val nCand = Dedup.minhashCandidatesFrom(Dedup.minhashSignaturesFrom(sh), cap = 16).count()
    assert(nCand <= 300, s"expected ~119 star candidates, got $nCand")
    val nCandUncapped =
      Dedup.minhashCandidatesFrom(Dedup.minhashSignaturesFrom(sh), cap = Int.MaxValue).count()
    assert(nCandUncapped >= 7140, s"uncapped control should be all-pairs, got $nCandUncapped")
  }

  test("substring pairs: shared run of length L yields L-k+1 windows; short overlap invisible") {
    import spark.implicits._
    val k = Dedup.SubstringK // 8
    val run12 = (1 to 12).map(i => s"run$i").mkString(" ")   // 12-token verbatim run
    val run7 = (1 to 7).map(i => s"sub$i").mkString(" ")     // below-k overlap
    def pad(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, s"${pad("a", 10)} $run12 ${pad("b", 10)}"),
      (2L, s"${pad("c", 10)} $run12 ${pad("d", 10)}"),
      (3L, s"${pad("e", 10)} $run7 ${pad("f", 10)}"),
      (4L, s"${pad("g", 10)} $run7 ${pad("h", 10)}")
    ).toDF("doc_id", "text")
    val got = Dedup.substringPairsOn(docs)
      .as[(Long, Long, Long)].collect()
    // the 12-token run is witnessed by exactly 12-k+1 = 5 shared windows
    assert(got.toSeq == Seq((1L, 2L, 12L - k + 1)),
      s"expected only (1,2,${12 - k + 1}), got ${got.toSeq}")
    // recall within a pair is exact: a doc duplicated verbatim shares
    // every one of its n-k+1 windows with its copy
    val dup = Seq((10L, pad("x", 30)), (11L, pad("x", 30))).toDF("doc_id", "text")
    val full = Dedup.substringPairsOn(dup).as[(Long, Long, Long)].collect()
    assert(full.toSeq == Seq((10L, 11L, 30L - k + 1)))
  }

  test("minhash set aggregate = scalar signature of the union set; slot agreement tracks exact jaccard") {
    import spark.implicits._
    import graft.functions.GraftExpressions
    // the aggregate (streaming update + partial merge across partitions)
    // must equal the scalar MinHashSignature applied to the materialized
    // set — same permutation family, two independent execution paths
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"source", explode(GraftExpressions.shingleHashes(split($"text", " "), 3)).as("x"))
    val viaAgg = docs.repartition(4) // force a real merge path
      .groupBy($"source").agg(GraftExpressions.minhashSetAgg($"x", Dedup.NumHashes).as("sig"))
      .as[(String, Seq[Long])].collect().toMap
    val viaScalar = docs.groupBy($"source").agg(collect_set($"x").as("xs"))
      .select($"source", GraftExpressions.minhashSig($"xs", Dedup.NumHashes).as("sig"))
      .as[(String, Seq[Long])].collect().toMap
    assert(viaAgg.keySet == viaScalar.keySet)
    viaAgg.foreach { case (src, sig) =>
      assert(sig == viaScalar(src), s"agg signature differs from scalar signature for $src")
    }
    // partial aggregation must survive: the shuffle carries one 32-slot
    // buffer per (partition, source), not the shingle stream — a
    // regression to a full-shuffle agg would be invisible at test SF
    // and catastrophic at corpus scale
    val plan = Dedup.sourceSignatures(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("partial_minhashsetagg"),
      s"map-side combine missing from signature plan:\n${plan.take(2000)}")
    // the whole point: slot agreement estimates exact jaccard
    val rows = Dedup.sourceJaccard(spark, sf)
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val errs = rows.map { case (_, _, agree, inter, nx, ny) =>
      math.abs(agree.toDouble / Dedup.NumHashes - inter.toDouble / (nx + ny - inter))
    }
    assert(errs.max <= 0.35, s"worst signature-estimate error ${errs.max} (32 hashes, 3sigma ~ 0.27)")
    info(f"cross-source jaccard estimate: mean |err| ${errs.sum / errs.length}%.3f, max ${errs.max}%.3f over ${rows.length} pairs")
  }

  test("bloom decontamination: superset of exact flags, bounded false-positive docs") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val exact = TextAnalysis.decontaminate(spark, sf)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val bloom = TextAnalysis.decontaminateBloom(spark, sf)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(bloom.keySet == exact.keySet, "both paths must cover the same docs")
    // a Bloom filter can only ADD hits: never a false negative, and
    // per-doc hit counts are upper bounds of the exact counts
    exact.foreach { case (doc, (hitCt, contaminated)) =>
      assert(bloom(doc)._1 >= hitCt, s"doc $doc: bloom hit_ct ${bloom(doc)._1} < exact $hitCt")
      if (contaminated == 1L)
        assert(bloom(doc)._2 == 1L, s"doc $doc: exact-contaminated but bloom missed it")
    }
    // false-positive DOCS (flagged by bloom only) stay rare: P[doc FP]
    // <= grams_per_doc * fpp; assert a loose 5% ceiling at fpp = 1e-4
    val fpDocs = exact.count { case (doc, (_, c)) => c == 0L && bloom(doc)._2 == 1L }
    val cleanDocs = exact.count { case (_, (_, c)) => c == 0L }.max(1)
    assert(fpDocs.toDouble / cleanDocs <= 0.05,
      s"bloom flagged $fpDocs of $cleanDocs clean docs")
    info(s"bloom decontamination: $fpDocs false-positive docs over $cleanDocs clean")
  }

  test("minhash set aggregate over a STREAM: signatures at rest = batch (state-store round trip)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    import graft.functions.GraftExpressions
    // docs arrive in two micro-batches; the signature aggregate's
    // buffer must survive the streaming state store between batches
    // (serialize/deserialize of the 32-slot min array), and the
    // at-rest signatures must equal the batch aggregation of the union
    val all = graft.sources.Tables.documents(spark, sf)
      .select($"source", $"text").as[(String, String)].collect()
    val (b1, b2) = all.splitAt(all.length / 2)
    val mem = MemoryStream[(String, String)](spark)
    val sig = mem.toDF().toDF("source", "text")
      .select($"source", explode(GraftExpressions.shingleHashes(split($"text", " "), 3)).as("x"))
      .groupBy($"source").agg(GraftExpressions.minhashSetAgg($"x", Dedup.NumHashes).as("sig"))
    val q = sig.writeStream.format("memory").queryName("src_sig_stream")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("src_sig_stream")
        .as[(String, Seq[Long])].collect().toMap
      val want = graft.sources.Tables.documents(spark, sf)
        .select($"source", explode(GraftExpressions.shingleHashes(split($"text", " "), 3)).as("x"))
        .groupBy($"source").agg(GraftExpressions.minhashSetAgg($"x", Dedup.NumHashes).as("sig"))
        .as[(String, Seq[Long])].collect().toMap
      assert(got == want, "streamed signatures diverge from batch signatures")
    } finally q.stop()
  }

  test("dedup components = union-find closure of the verified pair graph") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val labels = Dedup.dedupComponents(spark, sf)
      .select("doc_id", "rep_doc_id").as[(Long, Long)].collect().toMap
    // driver-side union-find ground truth over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // every doc labeled, rep = min doc_id of its true component
    labels.foreach { case (d, r) =>
      assert(r == find(d), s"doc $d: rep $r != union-find root ${find(d)}")
    }
    // idempotence: a representative is its own representative
    labels.values.foreach(r => assert(labels(r) == r, s"rep $r is not a fixpoint"))
    // sanity: the graph actually has multi-hop chains to close (A≈B≈C
    // with no direct A-C edge), or the test proves nothing
    val direct = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val transitiveOnly = labels.exists { case (d, r) =>
      d != r && !direct.getOrElse(d, Set.empty).contains(r)
    }
    assert(transitiveOnly, "fixture has no multi-hop component; closure untested")
  }

  test("simhash pairs = exact Hamming<=3 pairs (pigeonhole guarantees recall)") {
    import spark.implicits._
    val sigs = Dedup.simhash(spark, sf).select("doc_id", "simhash")
      .as[(Long, Long)].collect()
    val exact = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // 4 chunks of 16 bits: any pair within Hamming distance 3 shares
    // at least one intact chunk, so chunk-bucketing recall is exactly 1
    assert(got == exact, s"got=${got.size} exact=${exact.size}")
  }

  test("ANN LSH and IVF recall vs brute-force cosine top-k") {
    import spark.implicits._
    val truth = Similarity.annTopKFloat(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.annLsh(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lshRecall = truth.count(lsh.contains).toDouble / truth.size
    // 12 tables × multi-probe: per-table candidate probability for a
    // cosine-0.3 neighbor is p⁶+6p⁵(1−p) ≈ 0.23 (p = 1−θ/π ≈ 0.60), so
    // P[candidate] ≈ 1−0.77¹² ≈ 0.95 — 0.7 is a margin gate, not a
    // tuned-to-pass one
    assert(lshRecall >= 0.7, s"multi-table multi-probe LSH recall $lshRecall < 0.7")
    val ivf = Similarity.annIvf(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfRecall = truth.count(ivf.contains).toDouble / truth.size
    assert(ivfRecall >= 0.7, s"IVF nprobe=${Similarity.NProbe}/16 recall $ivfRecall < 0.7")
    info(f"LSH recall $lshRecall%.3f, IVF recall $ivfRecall%.3f")
  }

  test("edit-distance pairs: engine Levenshtein = driver-side DP over the candidate set") {
    import spark.implicits._
    val got = Dedup.editDistancePairs(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    val pfx = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.take(128) }.toMap
    def lev(a: String, b: String): Long = {
      val prev = Array.tabulate(b.length + 1)(_.toLong)
      val cur = new Array[Long](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i.toLong
        for (j <- 1 to b.length) {
          val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        }
        Array.copy(cur, 0, prev, 0, cur.length)
      }
      prev(b.length)
    }
    got.foreach { case (a, b, d, sim) =>
      val want = lev(pfx(a), pfx(b))
      assert(d == want, s"($a, $b): engine $d != DP $want")
      val wantSim = 1.0 - d.toDouble / math.max(pfx(a).length, pfx(b).length).toDouble
      assert(sim == wantSim, s"($a, $b): sim $sim != $wantSim")
    }
    // near-dup candidates must include at least one non-identical
    // prefix, or the DP comparison proved nothing
    assert(got.exists(_._3 > 0))
  }

  test("hard negatives: label-disjoint, rank-contiguous, and the label filter actually bites") {
    import spark.implicits._
    val hn = Similarity.hardNegatives(spark, sf)
      .as[(Long, Int, Long, Int, Double)].collect()
    assert(hn.nonEmpty)
    val labels = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    // negatives never share the query's label, sims stay below the
    // dup threshold, ranks are contiguous from 1
    hn.foreach { case (qid, rk, nid, nlab, sim) =>
      assert(labels(nid) == nlab && nlab != labels(qid), s"label leak at ($qid, $nid)")
      assert(sim < 0.9)
      assert(rk >= 1 && rk <= 5)
    }
    hn.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._2).sorted.sameElements(1 to rows.size), s"rank gap for $qid")
    }
    // on the cluster-structured corpus some query's unfiltered top-5
    // contains a same-label neighbor, so mining must differ from plain
    // ANN top-k — otherwise the operator tested nothing
    val plain = Similarity.annTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val mined = hn.map(r => (r._1, r._3)).toSet
    assert(mined != plain, "hard-negative filter indistinguishable from plain top-k")
  }

  test("IVF assignment plan: doc-local projection, no Exchange/Window; full IVF has one rank Window") {
    val (ids, cents) = Similarity.kmeansModel(spark, sf)
    // raw read (no spread) so the only possible Exchange would be the operator's own
    val assign = Similarity.ivfAssign(
      graft.sources.Tables.embeddings(spark, sf), ids, cents)
    val plan = assign.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment shuffles:\n$plan")
    assert(!plan.contains("Window"), s"assignment uses a window:\n$plan")
    // the whole IVF query keeps exactly ONE window — the final per-query
    // top-k rank over verified candidates (the old plan had three: two
    // n×C assignment argmaxes + the rank). Pinned on the NAMED query
    // path: since r18 the named query always builds its plan fresh and
    // the shared default-panel frame is a checkpoint (Memo),
    // invisible to the CacheManager — so this pin is deterministic
    // regardless of which suite built the shared frames first (the r17
    // persist-based memo made it order-dependent: cache substitution
    // replaced the subtree and the Window vanished).
    val windows = Similarity.annIvf(spark, sf).queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size == 1, s"expected 1 rank window, got ${windows.size}")
  }

  test("neardup LSH: zero false positives vs exact, no cross join in plan") {
    import spark.implicits._
    val exact = Similarity.nearDupPairs(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val lshDf = Similarity.nearDupLsh(spark, sf)
    // the exact side is panel-bounded since r14 (vec_a < NearDupPanel,
    // the retirement of the last allowlisted cartesian), so the
    // zero-false-positive subset check compares panel pairs only —
    // panel membership is independent of pair difficulty, so recall
    // on the panel estimates corpus recall without bias
    val lsh = lshDf.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      .filter(_._1 < Similarity.NearDupPanel)
    // candidates are verified with the identical quantized cosine, so
    // the output must be a strict subset of the exact pairs; recall at
    // this deliberately-low t=0.3 is informational only — the sweep
    // that set the LSH constants measured a ~0.84 ceiling there for
    // every (tables, planes, probe-radius) config because sub-0.5
    // thresholds are out of hyperplane-LSH's operating range (the
    // planted-pair test below gates the regime the operator ships for)
    assert(lsh.subsetOf(exact), s"LSH emitted ${(lsh -- exact).size} non-pairs")
    if (exact.nonEmpty)
      info(f"neardup LSH t=0.3 recall ${exact.count(lsh.contains).toDouble / exact.size}%.3f" +
        s" over ${exact.size} exact pairs (informational)")
    val plan = lshDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      s"neardup LSH plan contains a cross join:\n$plan")
  }

  test("planted near-dups: recall >= 0.95 at t=0.9, nothing but planted pairs, no cross join") {
    import spark.implicits._
    val nVecs = graft.sources.Tables.embeddings(spark, sf).count()
    val gotDf = Similarity.nearDupPlanted(spark, sf)
    val got = gotDf.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // ground truth: every (i, i + PlantOffset) pair sits at cosine
    // ≈ 0.93; raw-corpus pairs max out near 0.55, far below t=0.9 —
    // so the exact-verified output can contain planted pairs only
    val planted = (0L until nVecs).map(i => (i, i + Similarity.PlantOffset)).toSet
    assert(got.subsetOf(planted),
      s"found ${(got -- planted).size} pairs that are not planted near-dups")
    val recall = planted.count(got.contains).toDouble / planted.size
    assert(recall >= 0.95, s"planted near-dup recall $recall < 0.95 (planted=${planted.size})")
    info(f"planted near-dup recall $recall%.3f over ${planted.size} pairs")
    val plan = gotDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      s"planted neardup plan contains a cross join:\n$plan")
  }

  test("semantic dedup: originals kept, planted copies dropped, cluster-local plan") {
    import spark.implicits._
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    val df = Similarity.semanticDedup(spark, sf)
    val rows = df.select("vec_id", "keep", "dup_of").as[(Long, Long, Long)].collect()
    assert(rows.length == 2 * n, s"expected one row per corpus vector, got ${rows.length}")
    // the raw corpus's max pair cosine (~0.55) is far below t=0.9, so
    // NO original may be dropped — exact, not statistical
    val origDropped = rows.filter(r => r._1 < Similarity.PlantOffset && r._2 == 0L)
    assert(origDropped.isEmpty, s"${origDropped.length} originals falsely dropped")
    // every planted copy has a cosine-0.96 witness (its original): a
    // miss means the pair landed in disjoint probe cells
    val planted = rows.filter(_._1 >= Similarity.PlantOffset)
    val recall = planted.count(_._2 == 0L).toDouble / planted.length
    info(f"semantic-dedup planted drop recall $recall%.3f over ${planted.length} copies")
    assert(recall >= 0.9, s"planted drop recall $recall < 0.9")
    // witness ids are well-formed: smaller than the dropped vector when
    // set, -1 exactly when kept
    assert(rows.forall(r => if (r._2 == 1L) r._3 == -1L else r._3 >= 0L && r._3 < r._1))
    // witness chains terminate at a RETAINED vector (ids strictly
    // decrease, so following dup_of must reach a keep=1 row)
    val byId = rows.map(r => r._1 -> r).toMap
    rows.filter(_._2 == 0L).foreach { r =>
      var cur = r
      while (cur._2 == 0L) cur = byId(cur._3)
      assert(cur._2 == 1L)
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      s"semantic dedup plan contains a cross join:\n$plan")
  }

  test("quantized ANN and float ANN agree on neighbor sets") {
    import spark.implicits._
    val q = Similarity.annTopK(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val f = Similarity.annTopKFloat(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    // x1000 quantization can flip genuinely-tied ranks only
    val overlap = q.count(f.contains).toDouble / q.size
    assert(overlap >= 0.95, s"quantized/float overlap $overlap < 0.95")
  }

  test("ANN recall audit: bounded, consistent with the two rank frames it joins") {
    import spark.implicits._
    val r = Similarity.annRecall(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(r.length == 32, "one row per query in the panel")
    assert(r.forall { case (_, h, rec) => h >= 0 && h <= 5 && rec == h / 5.0 })
    // the IVF index at NProbe=2 must be a usable index, not a shrug:
    // macro recall over the panel stays above a meaningful floor
    val macroR = r.map(_._3).sum / r.length
    assert(macroR >= 0.6, s"IVF macro recall $macroR collapsed — index broken")
    // cross-check hit counts against an independent driver-side join
    val ivf = Similarity.annIvf(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
    val bf = Similarity.annTopKFloat(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
    r.foreach { case (q, h, _) =>
      val want = ivf.getOrElse(q, Array.empty).map(_._2).toSet
        .intersect(bf.getOrElse(q, Array.empty).map(_._2).toSet).size
      assert(h == want, s"query $q hit_ct $h != $want")
    }
    // the LSH-index audit: same shape, independently recounted
    val rl = Similarity.annRecallLsh(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(rl.length == 32 && rl.forall { case (_, h, rec) => rec == h / 5.0 })
    val lsh = Similarity.annLsh(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
    rl.foreach { case (q, h, _) =>
      val want = lsh.getOrElse(q, Array.empty).map(_._2).toSet
        .intersect(bf.getOrElse(q, Array.empty).map(_._2).toSet).size
      assert(h == want, s"lsh query $q hit_ct $h != $want")
    }
  }

  test("ingestion near-dup flags a STREAM of new docs vs static corpus ≡ batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    val d = graft.sources.Tables.documents(spark, sf).select($"doc_id", $"text")
    val corpus = d.filter($"doc_id" % 2 === 0)
    val feed = d.filter($"doc_id" % 2 === 1).as[(Long, String)].collect().toSeq
    val want = Dedup.ingestNearDups(corpus, d.filter($"doc_id" % 2 === 1))
      .as[(Long, Long, Double)].collect()
      .map { case (id, dup, j) => id -> ((dup, j)) }.toMap
    assert(want.nonEmpty, "no cross-parity near-dups in fixture — test is vacuous")
    val mem = MemoryStream[(Long, String)](spark)
    val q = Dedup.ingestNearDups(corpus, mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("ingest_dedup")
      .outputMode(OutputMode.Complete).start()
    mem.addData(feed.take(feed.size / 2)); q.processAllAvailable()
    mem.addData(feed.drop(feed.size / 2)); q.processAllAvailable(); q.stop()
    val got = spark.table("ingest_dedup")
      .as[(Long, Long, Double)].collect()
      .map { case (id, dup, j) => id -> ((dup, j)) }.toMap
    assert(got == want, s"stream flagged ${got.size} docs, batch ${want.size}")
  }

  test("IVF ANN serves a STREAM of query vectors (stream-static) ≡ batch top-k") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, sf)
    // one shared model: k-means float averaging is order-sensitive, so
    // batch and stream must rank against the SAME centroids
    val (ids, cents) = Similarity.kmeansModel(spark, sf)
    val queryVecs = e.filter($"vec_id" < 32)
      .select($"vec_id".as("query_id"), $"embedding")
    val want = Similarity.annIvfOn(e, queryVecs, ids, cents)
      .select("query_id", "rk", "neighbor_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    // stream side: the same query vectors arrive in micro-batches; the
    // scored prefix is identical code, ranking becomes a sorted
    // collect_list aggregate (Complete mode) since rank windows don't
    // exist in streaming
    val mem = MemoryStream[(Long, Seq[Float])](spark)
    val topk = Similarity.annIvfScored(
        e, mem.toDF().toDF("query_id", "embedding"), ids, cents)
      .groupBy($"query_id")
      .agg(expr("slice(array_sort(collect_list(struct(-sim AS neg, neighbor_id))), 1, 5)")
        .as("top"))
      .select($"query_id", expr("transform(top, s -> s.neighbor_id)").as("neighbors"))
    val q = topk.writeStream.format("memory").queryName("ann_stream")
      .outputMode(OutputMode.Complete).start()
    val batches = queryVecs.as[(Long, Seq[Float])].collect().toSeq
    mem.addData(batches.take(16)); q.processAllAvailable()
    mem.addData(batches.drop(16)); q.processAllAvailable(); q.stop()
    val got = spark.table("ann_stream").as[(Long, Seq[Long])].collect().toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (qid, ns) =>
      assert(got(qid) == ns, s"query $qid: stream=${got(qid)} batch=$ns")
    }
  }

  test("IVF centroid model round-trips through parquet and serves identically") {
    import spark.implicits._
    // index build and serving are separate jobs in production: the
    // model must survive storage bit-exactly (floats round-trip
    // losslessly through parquet) and serve the same results
    val (ids, cents) = Similarity.kmeansModel(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("ivf_model").toString
    ids.zip(cents.map(_.toSeq)).toSeq.toDF("centroid_id", "ce")
      .write.mode("overwrite").parquet(dir)
    val loaded = spark.read.parquet(dir).orderBy($"centroid_id").collect()
    val lids = loaded.map(_.getInt(0))
    val lcents = loaded.map(_.getSeq[Float](1).toArray)
    assert(lids.sameElements(ids))
    assert(lcents.length == cents.length &&
      lcents.zip(cents).forall { case (a, b) => a.sameElements(b) })
    val e = graft.sources.Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 8).select($"vec_id".as("query_id"), $"embedding")
    val served = Similarity.annIvfOn(e, q, lids, lcents)
      .select("query_id", "rk", "neighbor_id").as[(Long, Int, Long)].collect().toSeq
    val direct = Similarity.annIvfOn(e, q, ids, cents)
      .select("query_id", "rk", "neighbor_id").as[(Long, Int, Long)].collect().toSeq
    assert(served == direct && served.nonEmpty)
  }

  test("decontamination runs as a stream-static join (streaming corpus ≡ batch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    import graft.operators.TextAnalysis
    val table = graft.sources.Tables.documents(spark, sf)
    // static side: the benchmark gram set (its own small table in
    // production); stream side: training docs arriving in micro-batches
    val benchGrams = TextAnalysis.gramHashes(
        table.filter($"doc_id" % 20 === 0).select($"doc_id", $"text"))
      .select("gh").distinct()
    val docs = table.select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)](spark)
    val hits = TextAnalysis.gramHashes(mem.toDF().toDF("doc_id", "text"))
      .filter($"doc_id" % 20 =!= 0)
      .join(broadcast(benchGrams), "gh")
      // countDistinct is unsupported in streaming aggs; size(collect_set)
      // is the exact equivalent
      .groupBy($"doc_id").agg(size(collect_set($"gh")).cast("long").as("hit_ct"))
    val q = hits.writeStream.format("memory").queryName("decontam_stream")
      .outputMode(OutputMode.Complete).start()
    mem.addData(docs.take(docs.size / 2)); q.processAllAvailable()
    mem.addData(docs.drop(docs.size / 2)); q.processAllAvailable(); q.stop()
    val got = spark.table("decontam_stream").as[(Long, Long)].collect().toMap
    val want = TextAnalysis.decontaminate(spark, sf).filter($"hit_ct" > 0)
      .select($"doc_id", $"hit_ct").as[(Long, Long)].collect().toMap
    assert(want.nonEmpty, "fixture has no contaminated docs — test is vacuous")
    assert(got == want, s"stream hits=${got.size} diverged from batch hits=${want.size}")
  }

  test("multimodal header probe parses real PNG/JPEG/WAV bytes; survives corrupt input") {
    import graft.functions.MediaHeaders
    // hand-assembled REAL headers, independent of the fixture synthesis
    def png(w: Int, h: Int, colorType: Int): Array[Byte] =
      (Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a,
        0, 0, 0, 13, 'I'.toInt, 'H'.toInt, 'D'.toInt, 'R'.toInt,
        w >> 24, (w >> 16) & 255, (w >> 8) & 255, w & 255,
        h >> 24, (h >> 16) & 255, (h >> 8) & 255, h & 255,
        8, colorType, 0, 0, 0, 1, 2, 3, 4) map (_.toByte))
    def jpeg(w: Int, h: Int, comps: Int): Array[Byte] =
      (Array(0xff, 0xd8, // SOI
        0xff, 0xe0, 0, 16, 'J'.toInt, 'F'.toInt, 'I'.toInt, 'F'.toInt, 0, 1, 1, 0, 0, 1, 0, 1, 0, 0, // APP0
        0xff, 0xfe, 0, 4, 'h'.toInt, 'i'.toInt, // COM to skip
        0xff, 0xc0, 0, 17, 8, h >> 8, h & 255, w >> 8, w & 255, comps,
        1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1) map (_.toByte))
    def wav(ch: Int, rate: Int): Array[Byte] =
      "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WAVEfmt ".getBytes ++
        (Array(16, 0, 0, 0, 1, 0, ch & 255, ch >> 8,
          rate & 255, (rate >> 8) & 255, (rate >> 16) & 255, rate >> 24,
          0, 0, 0, 0, 4, 0, 16, 0) map (_.toByte))
    assert(MediaHeaders.packedInfo(png(800, 600, 6)) ==
      MediaHeaders.pack(MediaHeaders.FmtPng, 800, 600, 4, 0))
    assert(MediaHeaders.packedInfo(png(1, 1, 2)) ==
      MediaHeaders.pack(MediaHeaders.FmtPng, 1, 1, 3, 0))
    assert(MediaHeaders.packedInfo(jpeg(1920, 1080, 3)) ==
      MediaHeaders.pack(MediaHeaders.FmtJpeg, 1920, 1080, 3, 0))
    assert(MediaHeaders.packedInfo(wav(2, 44100)) ==
      MediaHeaders.pack(MediaHeaders.FmtWav, 0, 0, 2, 44100))
    // ITU T.81 B.1.1.2 fill bytes: 0xFF padding before a marker is
    // legal (common in camera output) and must not derail the scan
    val jp = jpeg(1920, 1080, 3)
    val filled = jp.take(2) ++ Array(0xff.toByte, 0xff.toByte) ++ jp.drop(2)
    assert(MediaHeaders.packedInfo(filled) ==
      MediaHeaders.pack(MediaHeaders.FmtJpeg, 1920, 1080, 3, 0))
    // out-of-range fields saturate to the field cap, never wrap: a
    // 96 kHz WAV must not report a confidently-wrong 30464 Hz
    assert(MediaHeaders.packedInfo(wav(2, 96000)) ==
      MediaHeaders.pack(MediaHeaders.FmtWav, 0, 0, 2, 0xFFFF))
    assert((MediaHeaders.packedInfo(wav(2, 96000)) & 0xFFFFL) == 0xFFFFL)
    // corrupt/truncated/foreign payloads: unknown, never a throw
    assert(MediaHeaders.packedInfo(Array[Byte]()) == 0L)
    assert(MediaHeaders.packedInfo("not a media file".getBytes) == 0L)
    assert(MediaHeaders.packedInfo(png(800, 600, 6).take(20)) == 0L)
    assert(MediaHeaders.packedInfo(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte)) ==
      MediaHeaders.pack(MediaHeaders.FmtJpeg, 0, 0, 0, 0))
  }

  test("multimodal feature extraction is deterministic, parsed from payload bytes") {
    import spark.implicits._
    val feats = Multimodal.mediaFeatures(spark, sf)
    val again = Multimodal.mediaFeatures(spark, sf)
    assert(feats.collect().toSeq == again.collect().toSeq)
    // every payload's parsed format must match its doc_id synthesis rule
    // and the full byte length = header + UTF-8 text bytes
    val joined = feats.join(
      graft.sources.Tables.documents(spark, sf).select($"doc_id", $"n_chars"), "doc_id")
    val headerLen = when($"format" === "png", 33)
      .when($"format" === "wav", 44).when($"format" === "jpeg", 49)
    assert(joined.filter($"format" === "unknown").count() == 0)
    assert(joined.filter($"byte_len" =!= $"n_chars" + headerLen).count() == 0)
    // the probe is an expression, not a lambda: the plan must stay
    // whole-stage-codegen with no DeserializeToObject/MapPartitions
    val plan = feats.queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions") && !plan.contains("DeserializeToObject"), plan)
  }

  test("round-8 query plans: no cartesian, no lambda fallback, broadcast where claimed") {
    import graft.operators.{DimRouter, GmallDwd, TextAnalysis}
    // the scale-relevant shapes of the new named queries, pinned in CI
    // like the flagship's no-cartesian assert
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val curation = plan(TextAnalysis.curationDecisions(spark, sf))
    val dim = plan(DimRouter.dimOrderInfo(spark, sf))
    val display = plan(GmallDwd.displayLog(spark, sf))
    val report = plan(TextAnalysis.decontaminationReport(spark, sf))
    Seq("curation" -> curation, "dim" -> dim, "display" -> display,
        "report" -> report).foreach { case (n, p) =>
      assert(!p.contains("CartesianProduct"), s"$n plan has a cartesian join")
      assert(!p.contains("MapPartitions") && !p.contains("DeserializeToObject"),
        s"$n plan fell out of codegen into lambda execution")
    }
    // the benchmark gram set broadcasts (the forward decontaminate
    // contract holds for the inverse report too)
    assert(report.contains("BroadcastHashJoin"), report)
  }

  test("k-means model is bit-identical across partitionings") {
    // the round-8 invariant behind the IVF/SemDeDup full-value
    // oracles: the quantized integer-sum mean makes the Lloyd update
    // order-independent, so the model cannot drift with partitioning
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val m1 = Similarity.kmeansModelOn(e.repartition(2))
    val m2 = Similarity.kmeansModelOn(e.repartition(17))
    assert(m1._1.sameElements(m2._1))
    assert(m1._2.length == m2._2.length &&
      m1._2.zip(m2._2).forall { case (a, b) => a.sameElements(b) })
  }

  test("non-convergence within maxIter throws instead of returning a truncated closure") {
    import spark.implicits._
    // seedCap = 1 gives every edge its own seed set, so a 6-node chain
    // leaves a 5-label conflict chain that one star phase cannot
    // stabilize (the check compares the phase's output against its
    // input edges), and the core must REFUSE to return the partial
    // labels (ADVICE r7: a truncated closure is indistinguishable from
    // a converged one in the output schema)
    val chain = (0L until 6L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.componentLabels(chain, maxIter = 1, seedCap = 1)
    }
    assert(e.getMessage.contains("no fixpoint"))
    // the same graph under the default budget converges to the min label
    val ok = Dedup.componentLabels(chain, seedCap = 1).as[(Long, Long)].collect()
    assert(ok.map(_._1).sorted.sameElements(0L until 6L) && ok.forall(_._2 == 0L))
  }

  test("seeded components: a chain split round-robin over partitions needs rounds; one partition needs none") {
    import spark.implicits._
    val n = 12
    // partition p holds the edges (i, i+1) with i % 4 == p: no two edges
    // of a partition touch, so every seed set is one edge, each inner
    // vertex gets two seed labels, and the conflict graph is a chain
    // that needs several star phases
    val spread = spark.sparkContext.parallelize(0 until 4, 4)
      .flatMap(p => (p until n - 1 by 4).map(i => (i.toLong, i + 1L)))
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.componentLabels(spread, maxIter = 1)
    }
    assert(e.getMessage.contains("no fixpoint"))
    val labels = Dedup.componentLabels(spread).as[(Long, Long)].collect()
    assert(labels.map(_._1).sorted.sameElements(0L until n.toLong))
    assert(labels.forall(_._2 == 0L))
    // the same chain in one partition: the seed is the fixpoint, zero phases
    val whole = Dedup.componentLabels(spread.coalesce(1), maxIter = 0)
      .as[(Long, Long)].collect()
    assert(whole.length == n && whole.forall(_._2 == 0L))
  }

  test("sf0.001 verified pairs: the seed is the fixpoint, zero star phases") {
    import spark.implicits._
    // maxIter = 0 allows no star phase, so a single seed conflict throws
    val labels = Dedup.componentLabels(Dedup.verifiedPairs(spark, sf), maxIter = 0)
      .as[(Long, Long)].collect()
    val want = Dedup.dedupComponents(spark, sf).as[(Long, Long)].collect().toMap
    assert(labels.nonEmpty && labels.forall { case (d, r) => want(d) == r })
  }

  test("components conflict path: measured labels broadcast into the documents join") {
    import spark.implicits._
    // dedupComponents' documents join over labels built with
    // seedCap = 1: every edge gets its own seed set, so the sf0.001
    // pairs take the conflict path (star phases, then the relabel join)
    val df = graft.sources.Tables.documents(spark, sf).select(col("doc_id"))
      .join(Dedup.componentLabels(Dedup.verifiedPairs(spark, sf), seedCap = 1)
          .withColumnRenamed("rep_doc_id", "rep"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep_doc_id"))
    val plan = df.queryExecution.sparkPlan
    assert(plan.exists(_.nodeName == "BroadcastHashJoin") &&
      !plan.exists(_.nodeName == "SortMergeJoin"), s"documents join must broadcast:\n$plan")
    assert(df.as[(Long, Long)].collect().toMap ==
      Dedup.dedupComponents(spark, sf).as[(Long, Long)].collect().toMap)
  }

  test("quality scoring + filter stream ≡ batch (online curation gate)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    import graft.operators.TextAnalysis
    // the keep/drop gate is row-local (tokenize + score, no shuffle),
    // so the SAME transform chain gates an ingest stream — proven
    // at-rest equal to the batch pass over the identical documents
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"source", $"n_chars", $"text")
      .as[(Long, String, String, Long, String)].collect()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val mem = MemoryStream[(Long, String, String, Long, String)](spark)
    val gated = TextAnalysis.qualityFilterOn(TextAnalysis.textStatsOn(
      mem.toDF().toDF("doc_id", "lang", "source", "n_chars", "text")))
    val q = gated.writeStream.format("memory").queryName("quality_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("quality_stream")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      val want = TextAnalysis.qualityFilter(spark, sf)
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(want.nonEmpty && got == want)
      // both keep and drop decisions are exercised by the fixture
      assert(got.exists(_._2 == 1L) && got.exists(_._2 == 0L))
    } finally q.stop()
  }

  test("RAG chunking: coverage/overlap invariants + stream ≡ batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    import graft.operators.TextAnalysis
    // plan pin: chunking is scan→generate→project — the ONLY exchanges
    // in the named query are the spread repartition and the final
    // presentation sort (at scale the embed stage consumes the
    // unsorted frame with zero shuffles). Typed count, not a plan-
    // string regex: once another test materializes the shared chunk
    // frame, the string rendering inlines the cached interior (final
    // AND initial plan) and double-counts its exchanges.
    val exec = TextAnalysis.chunkRag(spark, sf).queryExecution.executedPlan
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collectWithSubqueries {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          shuffles(a.initialPlan)
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
      }.sum
    assert(shuffles(exec) <= 2, s"chunk plan grew unexpected shuffles:\n$exec")
    val chunks = TextAnalysis.chunkRag(spark, sf)
      .select($"doc_id", $"chunk_index", $"chunk_start", $"chunk_len",
        $"chunk_text", $"snapped_text")
      .as[(Long, Long, Long, Long, String, String)].collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(chunks.nonEmpty)
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val text = docs(id)
      val sorted = cs.sortBy(_._2)
      // chunk_index is dense from 0; starts advance by the stride
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong))
      assert(sorted.forall(c => c._3 == c._2 * 150))
      // every chunk is the exact substring at its offset; the union of
      // chunks covers the full document (last chunk reaches the end)
      assert(sorted.forall(c =>
        c._5 == text.substring(c._3.toInt, math.min(c._3.toInt + 200, text.length))))
      assert(sorted.last._3 + sorted.last._4 == text.length)
      // consecutive chunks overlap by chunkSize - stride = 50 chars
      // (except when the successor is the short tail)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val overlap = a._3 + a._4 - b._3
          assert(overlap == 50 || a._3 + a._4 == text.length)
        case _ => ()
      }
      // snapped chunks never end mid-token: the char after a snapped
      // cut is a space (or the chunk reached the document end as-is)
      sorted.foreach { c =>
        if (c._6.length < c._5.length)
          assert(text.charAt(c._3.toInt + c._6.length) == ' ')
      }
    }
    // row-local ⇒ the same transform chunks an ingest stream
    val feed = docs.toSeq.sortBy(_._1)
    val mem = MemoryStream[(Long, String)](spark)
    val streamed = TextAnalysis.chunkRagOn(mem.toDF().toDF("doc_id", "text"))
    val q = streamed.writeStream.format("memory").queryName("chunk_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(feed.take(feed.size / 2)); q.processAllAvailable()
      mem.addData(feed.drop(feed.size / 2)); q.processAllAvailable()
      val got = spark.table("chunk_stream")
        .select($"doc_id", $"chunk_index", $"chunk_text")
        .as[(Long, Long, String)].collect().sorted.toSeq
      val want = chunks.map(c => (c._1, c._2, c._5)).sorted.toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("RAG chunking edge cases: empty, single-char, boundary lengths, space runs") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      0L -> "",
      1L -> " ",
      2L -> "a",
      3L -> "x" * 200,              // exactly one full window, no redundant tail
      4L -> "y" * 201,              // one full + one 51-char tail
      5L -> ("word " * 60).trim,    // clean token stream
      6L -> ("  double  spaced " * 20).trim,
      7L -> "z" * 150)              // tail starts exactly at stride
    val got = TextAnalysis.chunkRagOn(docs.toDF("doc_id", "text"))
      .select($"doc_id", $"chunk_index", $"chunk_start", $"chunk_text", $"snapped_text")
      .as[(Long, Long, Long, String, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    docs.foreach { case (id, text) =>
      val cs = got(id)
      // every doc yields ≥1 chunk; chunks tile the doc at stride 150
      assert(cs.nonEmpty, s"doc $id lost")
      assert(cs.map(_._3).toSeq == cs.indices.map(_ * 150L))
      cs.foreach { c =>
        val start = c._3.toInt
        val want = if (start >= text.length) "" else
          text.substring(start, math.min(start + 200, text.length))
        assert(c._4 == want, s"doc $id chunk at $start")
      }
      // reconstruction: stride-prefixes of all but the last chunk,
      // then the last chunk whole, concatenate back to the doc
      val rebuilt = cs.init.map(_._4.take(150)).mkString + cs.last._4
      assert(rebuilt == text, s"doc $id reconstruction")
      // snap never creates content: snapped is a prefix of the raw chunk
      cs.foreach(c => assert(c._4.startsWith(c._5)))
      // no chunk is fully contained in its predecessor (tail-redundancy
      // guard: every chunk past the first contributes new characters)
      cs.sliding(2).foreach {
        case Array(a, b) => assert(b._3 + b._4.length > a._3 + a._4.length, s"doc $id")
        case _ => ()
      }
    }
    // boundary docs produce exactly one chunk (no redundant tail row)
    assert(got(7L).length == 1 && got(3L).length == 1 && got(4L).length == 2)
  }

  test("content entropy: degenerate payloads collapse, healthy content separates") {
    import spark.implicits._
    // planted: a stuck-frame payload (one repeated byte), a two-symbol
    // blinker, and a healthy word-salad doc
    val docs = Seq(
      (1L, "a" * 500),
      (2L, "ab" * 250),
      (3L, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text")
    val r = Multimodal.contentEntropyOn(docs)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(r(0)._3 == 1L && math.abs(r(0)._4) < 1e-9, "constant payload must be ~0 entropy")
    // two equiprobable symbols ≈ ln 2 in detLn units (detLn ≈ ln)
    assert(math.abs(r(1)._4 - math.log(2.0)) < 1e-3, s"blinker entropy ${r(1)._4}")
    assert(r(2)._4 > r(1)._4, "healthy content must exceed the blinker")
    // fixture: all documents well above the degenerate band
    val fixture = Multimodal.contentEntropy(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(fixture.nonEmpty && fixture.forall(_._4 > 1.0))
  }

  test("LSH banding S-curve: total recall above the knee, lossy on the noise tail") {
    import spark.implicits._
    val eval = Dedup.lshEval(spark, sf)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // 8 bands of 4 hashes: P[collide] ≈ 1 − (1 − s⁴)⁸ — ~1 above 0.5,
    // near-0 at 0.015-grazing similarity; the audit must show that curve
    eval.get(">=0.5").foreach { case (_, t, f, r) =>
      assert(t > 0 && f == t && r == 1.0, s"high-sim recall must be total: $t/$f") }
    eval.get("0.015-0.1").foreach { case (_, t, f, r) =>
      assert(r < 0.5, s"noise-tail recall $r=$f/$t unexpectedly high — banding is not pruning") }
  }

  test("triangle census: clique/chain fixture exact, fixture recount, equi-join plan") {
    import spark.implicits._
    // planted: a 4-clique (transitive dup family) + a 3-chain (broken
    // transitivity) — the two shapes the LCC is built to separate
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (11L, 12L)).toDF("doc_a", "doc_b")
    val r = Dedup.dedupTrianglesOn(edges)
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    Seq(1L, 2L, 3L, 4L).foreach { v =>
      assert(r(v) == ((v, 3L, 3L, 1.0)), s"clique node $v: ${r(v)}") }
    assert(r(11L) == ((11L, 2L, 0L, 0.0)), "chain centre must have lcc 0")
    assert(r(10L) == ((10L, 1L, 0L, 0.0)) && r(12L) == ((12L, 1L, 0L, 0.0)))
    // real corpus: per-node counts equal a naive common-neighbor recount
    val pairs = Dedup.lshVerifiedPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val adj = pairs.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    val naive = adj.map { case (v, ns) =>
      v -> ns.toSeq.combinations(2).count { case Seq(x, y) =>
        adj(x).contains(y) }.toLong }
    val got = Dedup.dedupTriangles(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == adj.size)
    got.foreach { case (v, deg, tri, _) =>
      assert(deg == adj(v).size.toLong, s"degree of $v")
      assert(tri == naive(v), s"triangles of $v: $tri vs ${naive(v)}") }
    // the wedge/closure joins are hash-equi-joins, never a cartesian
    val plan = Dedup.dedupTriangles(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("IVF-PQ: codes complete and in range; residual quantization beats plain PQ recall") {
    import spark.implicits._
    val codes = Similarity.ivfpqCodes(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(codes.length == n, "one index row per corpus vector")
    assert(codes.forall { case (_, cell, c0, c1, c2, c3) =>
      cell >= 0 && cell < Similarity.NumCentroids &&
        Seq(c0, c1, c2, c3).forall(c => c >= 0 && c < Similarity.NumCentroids)
    }, "cell and codes must be valid ids")
    // the IVF-PQ promise: residuals are small, so the same 4×4-bit
    // budget reconstructs better — macro recall must not fall below
    // the plain-PQ path (it probes only NProbe of C cells and STILL
    // wins on this corpus)
    val ivfpq = Similarity.ivfpqRecall(spark, sf).as[(Long, Long, Double)].collect()
    val pq = Similarity.pqRecall(spark, sf).as[(Long, Long, Double)].collect()
    val (mi, mp) = (ivfpq.map(_._3).sum / ivfpq.length, pq.map(_._3).sum / pq.length)
    assert(mi >= mp, s"IVF-PQ recall $mi below plain PQ $mp")
    assert(mi >= 0.1, s"IVF-PQ recall $mi below sanity floor")
    // retrieval joins broadcast; no cartesian anywhere
    val plan = Similarity.ivfpqAnn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // fidelity dominance: at the same 4×4-bit budget, quantizing
    // RESIDUALS must reconstruct strictly better on average
    val fi = Similarity.ivfpqResidualReport(spark, sf).as[(Long, Double)].collect()
    val fp = Similarity.pqResidual(spark, sf).as[(Long, Double)].collect()
    assert(fi.length == fp.length && fi.forall { case (_, f) => f >= -1.0 - 1e-9 && f <= 1.0 + 1e-9 })
    val (mfi, mfp) = (fi.map(_._2).sum / fi.length, fp.map(_._2).sum / fp.length)
    assert(mfi > mfp, s"IVF-PQ fidelity $mfi must beat plain PQ $mfp")
  }

  test("ANN leaderboard is consistent with the per-family recall audits") {
    import spark.implicits._
    val lb = Similarity.annLeaderboard(spark, sf)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(lb.keySet == Set("ivf", "ivfpq", "lsh", "pq"))
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.select("hit_ct").as[Long].collect().sum
    assert(lb("ivf")._2 == hits(Similarity.annRecall(spark, sf)))
    assert(lb("lsh")._2 == hits(Similarity.annRecallLsh(spark, sf)))
    assert(lb("pq")._2 == hits(Similarity.pqRecall(spark, sf)))
    assert(lb("ivfpq")._2 == hits(Similarity.ivfpqRecall(spark, sf)))
    // the structural ordering the families are built to produce:
    // uncompressed probes beat compressed codes; residual beats plain
    assert(lb("ivf")._4 > lb("ivfpq")._4 && lb("ivfpq")._4 >= lb("pq")._4)
  }

  test("PQ fidelity: one row per vector, bounded, and a shuffle-free coded-scan plan") {
    import spark.implicits._
    val r = Similarity.pqResidual(spark, sf).as[(Long, Double)].collect()
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(r.length == n, "one fidelity row per corpus vector")
    assert(r.forall { case (_, f) => f >= -1.0 - 1e-9 && f <= 1.0 + 1e-9 })
    // a 4×4-bit code of 64 random-ish dims is lossy but must carry real
    // signal: mean cosine to the reconstruction well above 0
    val mean = r.map(_._2).sum / r.length
    assert(mean >= 0.3, s"mean PQ fidelity $mean suspiciously low")
    // codebook joins broadcast; no key shuffle before the presentation sort
    val plan = Similarity.pqResidual(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("ADC serving over a STREAM of query vectors: accumulated top-k = batch top-k") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // query vectors arrive in two micro-batches; each batch scores
    // against the STATIC coded corpus (foreachBatch — the same serve
    // discipline as the BM25 tier); at rest the accumulated result
    // page must equal the one-shot batch run
    val qs = graft.sources.Tables.embeddings(spark, sf).filter($"vec_id" < 32)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val (b1, b2) = qs.splitAt(qs.length / 2)
    val mem = MemoryStream[(Long, Seq[Float])](spark)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)]()
    val q = mem.toDF().toDF("query_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= Similarity.pqAnnOn(spark, sf, batch).collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        }
        ()
      }.start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val want = Similarity.pqAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(buf.size == want.size && buf.toSet == want,
      s"streamed ADC page (${buf.size}) diverges from batch (${want.size})")
  }

  test("phash band cap: giant buckets star-link at O(m); closure still collapses the family") {
    import spark.implicits._
    // 200 identical assets (the boilerplate-thumbnail shape) + one
    // disjoint asset: without the cap each of the 4 band buckets emits
    // ~m²/2 = 19 900 candidates; with it, exactly m−1 star edges
    val docs = ((1L to 200L).map(i => (i, "a" * 64 + "z" * 64)) :+
      ((500L, "z" * 64 + "a" * 64))).toDF("doc_id", "t")
    val h = Multimodal.blockHashesOn(docs)
    val pairs = Multimodal.phashPairsOn(h).as[(Long, Long, Long)].collect()
    assert(pairs.length == 199, s"expected 199 star pairs, got ${pairs.length}")
    assert(pairs.forall(p => p._1 == 1L && p._3 == 0L),
      "every star edge anchors at the bucket min with hamming 0")
    // transitive collapse is preserved through the star edges
    val labels = Dedup.componentLabels(Multimodal.phashPairsOn(h))
      .as[(Long, Long)].collect().toMap
    assert((1L to 200L).forall(v => labels(v) == 1L), "family must collapse to its min")
    assert(!labels.contains(500L), "the disjoint asset has no edge, so no label row")
  }

  test("thumbnail plan geometry and media-decision verdict recount") {
    import spark.implicits._
    val tp = Multimodal.thumbnailPlan(spark, sf)
      .as[(Long, String, Long, Long, Long, Long, Long)].collect()
    assert(tp.nonEmpty && tp.forall(_._2 != "wav"), "audio must be excluded")
    tp.foreach { case (id, _, w, h, nr, tw, th) =>
      val mx = math.max(w, h)
      if (mx <= 128) assert(nr == 0 && tw == w && th == h, s"asset $id")
      else {
        assert(nr == 1 && math.max(tw, th) <= 128 && tw >= 1 && th >= 1, s"asset $id")
        // exact floor semantics of the integer scale rule
        assert(tw == math.max(w * 128 / mx, 1) && th == math.max(h * 128 / mx, 1), s"asset $id")
      }
    }
    // decision verdict = parsed ∧ healthy entropy ∧ own dup rep — recount
    val ent = Multimodal.contentEntropy(spark, sf)
      .select($"doc_id", $"entropy").as[(Long, Double)].collect().toMap
    val rep = Multimodal.phashComponents(spark, sf)
      .as[(Long, Long)].collect().toMap
    val dec = Multimodal.mediaCurationDecisions(spark, sf)
      .select($"doc_id", $"format", $"keep").as[(Long, String, Long)].collect()
    assert(dec.length == ent.size, "one decision per asset")
    dec.foreach { case (id, fmt, keep) =>
      val want = fmt != "unknown" && ent(id) > 1.0 && rep.getOrElse(id, id) == id
      assert(keep == (if (want) 1L else 0L), s"asset $id verdict") }
  }

  test("perceptual dup components equal a driver-side union-find over the phash pairs") {
    import spark.implicits._
    val pairs = Multimodal.phashNearDups(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val nodes = Multimodal.blockHashes(spark, sf)
      .select("doc_id").as[Long].collect()
    val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
    def find(v: Long): Long = { var r = v; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = nodes.map(v => v -> find(v)).toMap
    val got = Multimodal.phashComponents(spark, sf).as[(Long, Long)].collect()
    assert(got.length == nodes.length, "one row per hashed asset")
    got.foreach { case (v, rep) => assert(rep == want(v), s"asset $v: $rep vs ${want(v)}") }
  }

  test("phash ingest over a STREAM of assets: accumulated flags = batch probe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // incoming (odd) assets arrive in two micro-batches; each batch is
    // hashed and probed against the STATIC even-corpus band index via
    // foreachBatch — at rest the accumulated flag set must equal the
    // one-shot batch probe
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val corpus = Multimodal.blockHashesOn(
      docs.filter(_._1 % 2 == 0).toSeq.toDF("doc_id", "t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      .toDF("doc_id", "n_bytes", "band0", "band1", "band2", "band3")
    val incoming = docs.filter(_._1 % 2 == 1)
    val (b1, b2) = incoming.splitAt(incoming.length / 2)
    val mem = MemoryStream[(Long, String)](spark)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val q = mem.toDF().toDF("doc_id", "t").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= Multimodal.phashIngestOn(Multimodal.blockHashesOn(batch), corpus)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        }
        ()
      }.start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val want = Multimodal.phashIngest(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(buf.toSet == want, s"streamed ingest (${buf.size}) diverges from batch (${want.size})")
  }

  test("phash ingest: planted twin flagged with witness; disjoint and far assets stay silent") {
    import spark.implicits._
    val half = "a" * 64 + "z" * 64
    val docs = Seq(
      (2L, half),                                 // corpus (even)
      (4L, "a" * 32 + "z" * 32 + "a" * 32 + "z" * 32), // corpus: shares band0=0, ham 32
      (3L, half),                                 // incoming twin of 2
      (5L, "z" * 64 + "a" * 64)                   // incoming: no band in common
    ).toDF("doc_id", "t")
    val h = Multimodal.blockHashesOn(docs)
    val got = Multimodal.phashIngestOn(
      h.filter($"doc_id" % 2 === 1), h.filter($"doc_id" % 2 === 0))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((3L, 1L, 0L, 2L)), s"got $got")
    // fixture form: deterministic, and incoming assets only ever match
    // corpus (even) assets
    val fx = Multimodal.phashIngest(spark, sf).collect().toSeq
    assert(fx == Multimodal.phashIngest(spark, sf).collect().toSeq)
    assert(Multimodal.phashIngest(spark, sf)
      .filter($"doc_id" % 2 === 0 || $"corpus_doc" % 2 === 1).count() == 0)
  }

  test("product quantization: codes in range, cells account for every vector, coding shuffle-free") {
    import spark.implicits._
    val codes = Similarity.pqCodes(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(codes.length == n, "one code row per corpus vector")
    assert(codes.forall { case (_, c0, c1, c2, c3) =>
      Seq(c0, c1, c2, c3).forall(c => c >= 0 && c < Similarity.NumCentroids)
    }, "every code must be a valid codebook id")
    // deterministic across rebuilds
    assert(codes == Similarity.pqCodes(spark, sf).as[(Long, Long, Long, Long, Long)].collect().toSeq)
    // occupancy histogram accounts for every vector in every subspace,
    // and no subspace collapsed to a single dominant code
    val cells = Similarity.pqCells(spark, sf).as[(Long, Long, Long)].collect()
    (0 until Similarity.PqM).foreach { m =>
      val sub = cells.filter(_._1 == m)
      assert(sub.map(_._3).sum == n, s"subspace $m histogram must sum to $n")
      assert(sub.length > 1 && sub.map(_._3).max < n, s"subspace $m codebook collapsed")
    }
    // coding is a pure projection: the only exchange is the small-scan
    // fan-out (round-robin), never a key shuffle
    val plan = Similarity.pqCodesBuild(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), "PQ coding must not shuffle by key")
  }

  test("PQ/ADC retrieval: top-k per query, recall far above random, broadcast-join plan") {
    import spark.implicits._
    val topk = Similarity.pqAnn(spark, sf).as[(Long, Int, Long, Double)].collect()
    assert(topk.length == 32 * 5, "k rows per query")
    assert(topk.forall { case (q, _, nb, _) => q != nb }, "self-match must be excluded")
    assert(topk.groupBy(_._1).values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
    // ADC cosine is the true cosine against the reconstruction → within [-1, 1]
    assert(topk.forall { case (_, _, _, s) => s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9 })
    // recall audit: 4×4-bit codes are lossy, but must beat the random
    // baseline (k/n ≈ 0.01) by an order of magnitude
    val rec = Similarity.pqRecall(spark, sf).as[(Long, Long, Double)].collect()
    val mean = rec.map(_._3).sum / rec.length
    assert(mean >= 0.1, s"mean ADC recall $mean below sanity floor")
    // the corpus side joins via broadcast (LUT is tiny); no cartesian
    val plan = Similarity.pqAnn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "LUT must broadcast")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("blockhash: bit rule, band packing, and planted near-dups") {
    import spark.implicits._
    // planted: low-half/high-half split → exactly the upper 32 bits set;
    // an identical twin; a 2-char-perturbed copy; a constant payload
    // (no block above the mean → hash 0); a short doc (excluded)
    val half = "a" * 64 + "z" * 64
    val perturbed = "a" * 64 + "z" * 31 + "a" + "z" * 32
    val docs = Seq(
      (1L, half), (2L, half), (3L, perturbed),
      (4L, "q" * 128), (5L, "tiny")
    ).toDF("doc_id", "t")
    val h = Multimodal.blockHashesOn(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(h.map(_._1) == Seq(1L, 2L, 3L, 4L), "short doc must be excluded")
    val byId = h.map(r => r._1 -> (r._3, r._4, r._5, r._6)).toMap
    // 128 bytes → blocks 0..31 cover the 'a' half, 32..63 the 'z' half:
    // bands 0,1 all-zero, bands 2,3 all-ones (0xFFFF)
    assert(byId(1L) == ((0L, 0L, 65535L, 65535L)), s"got ${byId(1L)}")
    assert(byId(2L) == byId(1L), "identical content must hash identically")
    assert(byId(4L) == ((0L, 0L, 0L, 0L)), "constant payload: no block above mean")
    // the perturbation flips at most a couple of blocks
    val (a2, a3) = (byId(3L)._3, byId(3L)._4)
    val ham = java.lang.Long.bitCount(a2 ^ 65535L) + java.lang.Long.bitCount(a3 ^ 65535L) +
      java.lang.Long.bitCount(byId(3L)._1) + java.lang.Long.bitCount(byId(3L)._2)
    assert(ham <= 3, s"perturbed copy drifted $ham bits from its original")
    // banded near-dup: the twin pair at hamming 0 and the perturbed pair
    // within threshold; no pair invented against the constant payload
    val pairs = Multimodal.phashNearDupsOn(Multimodal.blockHashesOn(docs))
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.contains((1L, 2L, 0L)), s"twin pair missing: $pairs")
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 <= 3), s"perturbed pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "constant payload must not match the split docs")
    // fixture: deterministic, and the pair plan is equi-joins (no cartesian)
    val fx = Multimodal.phashNearDups(spark, sf)
    val plan = fx.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "banded join must stay an equi-join")
    assert(fx.collect().toSeq == Multimodal.phashNearDups(spark, sf).collect().toSeq)
  }

  test("entity resolution: planted typos all recovered; blocking prunes the cross product") {
    import spark.implicits._
    val rows = Dedup.entityMatch(spark, sf)
      .select($"id_a", $"id_b", $"trigram_jaccard", $"edit_dist", $"is_match")
      .as[(Long, Long, Double, Long, Int)].collect()
    assert(rows.nonEmpty)
    // every planted (clean, clean+10^6) pair is a candidate AND a match
    // at edit distance exactly 1 — the matcher recovers all typos
    val cleanIds = graft.sources.Tables.part(spark, sf)
      .groupBy($"p_name").agg(min($"p_partkey").as("id"))
      .select($"id").as[Long].collect().toSet
    val byPair = rows.map(r => (r._1, r._2) -> r).toMap
    cleanIds.foreach { id =>
      val p = byPair.get((id, id + 1000000L))
      assert(p.exists(r => r._5 == 1 && r._4 == 1L), s"planted pair $id not recovered")
    }
    // blocking really prunes: candidates well under the full bipartite
    // cross product, yet recall above is total
    assert(rows.length < cleanIds.size * cleanIds.size / 2,
      s"${rows.length} candidates — blocking did not prune")
    // scores well-formed
    rows.foreach { r =>
      assert(r._3 >= 0.0 && r._3 <= 1.0 && r._4 >= 0)
      assert((r._5 == 1) == (r._4 <= 2))
    }
  }

  test("ngram jaccard df-cap: hot shingles drop, scores stay conservative") {
    import spark.implicits._
    import graft.functions.GraftExpressions
    // 80 docs sharing a boilerplate prefix (its shingles reach df = 80,
    // far over the cap) with pairwise-unique tails, plus one genuine
    // near-dup pair held together by RARE shingles only — the corpus
    // shape the parquet fixture never produces (its max df stays under
    // the default cap, leaving the capped branch unexercised)
    val boiler = "common boilerplate navigation header shared verbatim by every page"
    val docs = (0 until 80).map(i =>
      (i.toLong, s"$boiler tail$i alpha$i beta$i gamma$i delta$i")) ++ Seq(
      (900L, "rare pair document text with many matching words one two three four five six seven"),
      (901L, "rare pair document text with many matching words one two three four five six eight"))
    val sh = docs.toDF("doc_id", "text")
      .select($"doc_id", GraftExpressions.shingleHashes(split($"text", " "), 3).as("sh"))
    val cap = 8
    // the fixture must actually trigger the branch under test
    val hotCt = sh.select(explode($"sh").as("s"))
      .groupBy($"s").count().filter($"count" > cap).count()
    assert(hotCt > 0, "fixture produced no hot shingles — the cap branch is untested")
    val keep = $"doc_a" :: $"doc_b" :: $"inter" :: $"jaccard" :: Nil
    val capped = Dedup.ngramJaccardOn(sh, threshold = 1e-9, dfCap = cap)
      .select(keep: _*).as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val uncapped = Dedup.ngramJaccardOn(sh, threshold = 1e-9, dfCap = Int.MaxValue)
      .select(keep: _*).as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // expected capped semantics from first principles on collected sets:
    // inter counts rare shared shingles only; denominators stay full
    val sets = sh.as[(Long, Seq[Long])].collect().toMap.view.mapValues(_.toSet).toMap
    val df = sets.values.toSeq.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      i = (sets(a) & sets(b)).count(df(_) <= cap) if i > 0
      j = i.toDouble / (sets(a).size + sets(b).size - i).toDouble if j >= 1e-9
    } yield (a, b) -> (i.toLong, j)).toMap
    assert(capped.keySet == expected.keySet,
      s"capped pair set ${capped.keySet} != expected ${expected.keySet}")
    expected.foreach { case (k, (i, j)) =>
      assert(capped(k)._1 == i, s"inter mismatch for $k")
      assert(math.abs(capped(k)._2 - j) < 1e-12, s"jaccard mismatch for $k")
    }
    // conservative contract: capped pairs are a subset of uncapped and
    // never score HIGHER (hot-only pairs vanish, never inflate)
    assert(capped.keySet.subsetOf(uncapped.keySet))
    capped.foreach { case (k, (_, j)) => assert(j <= uncapped(k)._2 + 1e-12) }
    // the boilerplate block contributes no capped pairs (its shared
    // shingles are all hot; tails are disjoint) while the rare pair
    // survives with its full score
    assert(!capped.keySet.exists { case (a, b) => a < 900 && b < 900 },
      "a hot-only boilerplate pair leaked through the cap")
    assert(capped.contains((900L, 901L)), "the rare near-dup pair was lost")
    assert(capped((900L, 901L)) == uncapped((900L, 901L)),
      "a pure-rare pair must be unaffected by the cap")
  }

  test("fnv1a64 expression matches the reference Scala implementation") {
    import spark.implicits._
    val rows = Seq("", "a", "hello world", "é中文").toDF("s")
      .select($"s", graft.functions.GraftExpressions.fnv1a64($"s").as("h"))
      .as[(String, Long)].collect()
    rows.foreach { case (s, h) =>
      assert(h == graft.functions.Fnv1a64.hash(s.getBytes("UTF-8")), s"mismatch for '$s'")
    }
  }

  test("containment: a planted quoted paragraph scores ~1.0 where jaccard stays tiny") {
    import spark.implicits._
    val para = (1 to 12).map(i => s"quoted$i").mkString(" ")
    val page = ((1 to 200).map(i => s"host$i").mkString(" ")) + " " + para
    val docs = Seq((1L, para), (2L, page), (3L, (1 to 50).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      graft.functions.GraftExpressions.shingleHashes(split(col("text"), " "), 3).as("sh"))
    val mined = graft.operators.Dedup.ngramJaccardOn(sh, 0.0, 1000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    // jaccard of the planted pair is small (10 shared / ~208 union)
    assert(mined((1L, 2L)) < 0.1)
    // containment sees the subset: 10 shared / 10 = 1.0
    val got = graft.operators.Dedup.containmentOn(sh, 0.5, 1000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(got.keySet == Set((1L, 2L)))
    assert(math.abs(got((1L, 2L)) - 1.0) < 1e-12)
  }

  test("split leakage: counts equal a driver-side recount; all 9 cells covered on sf fixture") {
    val pairs = graft.operators.Dedup.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val split = graft.operators.TextAnalysis.corpusSplit(spark, sf)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = pairs.groupBy(p => (split(p._1), split(p._2)))
      .map { case (k, v) => (k._1, k._2, v.length.toLong, k._1 != k._2) }.toSet
    val got = graft.operators.Dedup.splitLeakage(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == want)
    // the audit exists because leaks happen: the fixture has at least one
    assert(got.exists(_._4), "expected at least one cross-split near-dup pair")
  }

  test("incremental signatures == full in-engine re-sign of v2") {
    import graft.operators.{Curation, Dedup}
    val docs = graft.sources.Tables.documents(spark, sf)
    val v2 = Curation.snapshotV2On(docs)
    val full = v2.select(col("doc_id"),
        graft.functions.GraftExpressions.shingleHashes(split(col("text"), " "), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        graft.functions.GraftExpressions.minhashSig(col("sh"), Dedup.NumHashes).as("sig"))
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("h_idx", "h_min")))
      .select(col("doc_id"), col("h_idx").cast("long"), col("h_min"))
      .orderBy("doc_id", "h_idx").collect().toSeq
    val inc = Dedup.incrementalSignatures(spark, sf).collect().toSeq
    assert(inc == full, "incremental signature splice diverges from full re-sign")
  }

  test("dedup summary histogram: accounts for every doc; removable = docs - components") {
    val rows = graft.operators.Dedup.dedupSummary(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (cSize, nComp, nDocs, nRem) =>
      assert(nDocs == cSize * nComp, s"size-$cSize row doesn't multiply out")
      assert(nRem == nDocs - nComp, s"size-$cSize removable wrong")
    }
    val totalDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_._3).sum == totalDocs, "histogram must cover the whole corpus")
    // singles exist (isolated docs are their own component) and at
    // least one real near-dup group exists in the fixture
    assert(rows.exists(_._1 == 1L) && rows.exists(_._1 > 1L))
  }

  test("incremental IVF: splice == frozen-model assignment of the v2 corpus; no-exchange delta") {
    import spark.implicits._
    val got = Similarity.incrementalIvf(spark, sf)
      .as[(Long, Long, String)].collect()
    assert(got.nonEmpty)
    // src tags and delete erasure follow the arrival/deletion slices
    got.foreach { case (id, _, src) =>
      assert(src == (if (id % Similarity.IncrMod == 0) "added" else "carried"), s"vec $id tagged $src")
    }
    assert(got.forall { case (id, _, _) =>
      id % Similarity.IncrMod == 0 || id % Similarity.IncrDelMod != 0 },
      "a deleted base vector survived the splice")
    // the splice must equal assigning the v2 corpus DIRECTLY under the
    // same frozen model — the invariant that makes per-batch
    // maintenance safe to run forever without index drift
    val e = graft.sources.Tables.spread(spark,
      graft.sources.Tables.embeddings(spark, sf)).select(col("vec_id"), col("embedding"))
    val (ids, cents) = Similarity.kmeansModel(spark, sf)
    val v2 = e.filter(col("vec_id") % Similarity.IncrMod === 0 ||
      col("vec_id") % Similarity.IncrDelMod =!= 0)
    val want = Similarity.ivfAssign(v2, ids, cents)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got.map(r => r._1 -> r._2).toMap == want)
    // the delta-assignment path is a pure projection over the centroid
    // constant: no ALGORITHMIC shuffle (hash/range) — the only Exchange
    // allowed is Tables.spread's ingest-side RoundRobin fan-out
    val deltaPlan = Similarity.ivfAssign(
      e.filter(col("vec_id") % Similarity.IncrMod === 0), ids, cents)
      .queryExecution.executedPlan.toString
    assert(!deltaPlan.contains("hashpartitioning") &&
      !deltaPlan.contains("rangepartitioning"),
      s"delta path shuffles on a key:\n$deltaPlan")
  }

  test("incremental IVF ingest: streamed delta assignment == batch added slice") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // the delta batch arrives as a STREAM: assignment is a stateless
    // projection over the frozen-model constant, so the same ivfAssign
    // serves micro-batches unchanged — accumulated assignments must
    // equal the one-shot 'added' slice of the batch splice
    val (ids, cents) = Similarity.kmeansModel(spark, sf)
    val delta = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % Similarity.IncrMod === 0)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val (b1, b2) = delta.splitAt(delta.length / 2)
    val mem = MemoryStream[(Long, Array[Float])](spark)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= Similarity.ivfAssign(batch, ids, cents)
            .select($"vec_id", $"centroid_id".cast("long"))
            .as[(Long, Long)].collect()
        }
        ()
      }.start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val want = Similarity.incrementalIvf(spark, sf)
      .filter($"src" === "added")
      .select($"vec_id", $"centroid_id").as[(Long, Long)].collect().toSet
    assert(buf.toSet == want, s"streamed delta (${buf.size}) diverges from batch (${want.size})")
  }

  test("IVF cell occupancy: covers the corpus; cells are model cells") {
    import spark.implicits._
    val cells = Similarity.ivfCells(spark, sf).as[(Long, Long)].collect()
    assert(cells.nonEmpty && cells.forall(_._2 > 0))
    val total = graft.sources.Tables.embeddings(spark, sf).count()
    assert(cells.map(_._2).sum == total, "occupancy must account for every vector")
    val (ids, _) = Similarity.kmeansModel(spark, sf)
    assert(cells.map(_._1).toSet.subsetOf(ids.map(_.toLong).toSet))
  }

  test("index health: per-family masses and consistency with the standalone audits") {
    import spark.implicits._
    val h = Similarity.indexHealth(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(h.keySet == Set("ivf", "ivfpq", "lsh", "pq"))
    assert(h("ivf")._4 == n && h("lsh")._4 == Similarity.NumTables * n)
    assert(h("pq")._4 == 4 * n && h("ivfpq")._4 == 4 * n)
    h.values.foreach { case (f, used, mx, tot, share) =>
      assert(used >= 1 && mx >= 1 && mx <= tot, s"$f bounds")
      assert(share == mx.toDouble / tot.toDouble && share > 0.0 && share <= 1.0, s"$f share")
    }
    // the ivf row must agree with the standalone occupancy audit
    val cells = Similarity.ivfCells(spark, sf).as[(Long, Long)].collect()
    assert(h("ivf")._2 == cells.length && h("ivf")._3 == cells.map(_._2).max)
  }

  test("LSH occupancy: every table accounts for the whole corpus") {
    import spark.implicits._
    val occ = Similarity.lshOccupancy(spark, sf).as[(Long, Long, Long)].collect()
    val total = graft.sources.Tables.embeddings(spark, sf).count()
    val byTable = occ.groupBy(_._1)
    assert(byTable.keySet == (0L until Similarity.NumTables.toLong).toSet)
    byTable.foreach { case (t, rows) =>
      assert(rows.map(r => r._2 * r._3).sum == total, s"table $t mass")
      // bucket keys are PlanesPerTable-bit patterns: at most 2^planes buckets
      assert(rows.map(_._3).sum <= (1L << Similarity.PlanesPerTable), s"table $t bucket ct")
    }
  }
}
