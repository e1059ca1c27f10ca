package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Property-based checks (SURVEY.md §5): custom codegen expressions
  * against independent references, the CEP batch form against a plain
  * Scala simulation, and the upsert algebra. Spark-driving properties
  * run a reduced case count; pure ones run the default 100.
  */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = TestSession.spark
  import scala.jdk.CollectionConverters._

  // ------------------------------------------------ codegen vs reference

  private val genLongArray = Gen.listOf(Gen.choose(Long.MinValue / 4, Long.MaxValue / 4))

  property("MinHashSignature == 32 aggregate() HOF minima") = forAll(genLongArray) { xs =>
    import spark.implicits._
    val prime = (1L << 61) - 1
    val expected = (0 until 32).map { i =>
      val a = 2L * i + 1L
      val b = 0x9e3779b97f4a7c15L + i
      xs.foldLeft(Long.MaxValue) { (acc, x) =>
        val m = (a * x + b) % prime
        math.min(acc, if (m < 0) m + prime else m)
      }
    }
    val got = Seq(xs).toDF("hs")
      .select(graft.functions.GraftExpressions.minhashSig(col("hs"), 32).as("sig"))
      .as[Seq[Long]].head()
    got == expected
  }

  property("DotProductLong == Scala dot (wrapping)") =
    forAll(genLongArray.map(_.take(64))) { xs =>
      import spark.implicits._
      val ys = xs.map(x => x ^ 0x5bf03635L)
      val expected = xs.zip(ys).foldLeft(0L) { case (acc, (a, b)) => acc + a * b }
      val got = Seq((xs, ys)).toDF("qa", "qb")
        .select(graft.functions.GraftExpressions.dotLong(col("qa"), col("qb")))
        .as[Long].head()
      got == expected
    }

  property("Fnv1a64 column == Scala impl on arbitrary unicode") =
    forAll(Gen.listOf(Gen.asciiPrintableStr).map(_.take(8))) { ss =>
      import spark.implicits._
      ss.isEmpty || {
        val got = ss.toDF("s")
          .select(graft.functions.GraftExpressions.fnv1a64(col("s")))
          .as[Long].collect().toSeq
        got == ss.map(s => graft.functions.Fnv1a64.hash(s.getBytes("UTF-8")))
      }
    }

  property("ShingleHashes == distinct FNV of '_'-joined 3-grams") =
    forAll(Gen.listOf(Gen.alphaNumStr.map(_.take(5)).suchThat(_.nonEmpty)).map(_.take(15))) { toks =>
      import spark.implicits._
      val expected = toks.sliding(3).filter(_.size == 3)
        .map(w => graft.functions.Fnv1a64.hash(w.mkString("_").getBytes("UTF-8")))
        .toSeq.distinct.sorted
      val got = Seq(toks).toDF("toks")
        .select(graft.functions.GraftExpressions.shingleHashes(col("toks"), 3))
        .as[Seq[Long]].head()
      got == expected
    }

  property("HyperplaneBuckets == per-plane sign bits from Scala dots") =
    forAll(Gen.listOfN(8, Gen.choose(-50, 50).map(_ / 10.0f))) { vec =>
      import spark.implicits._
      val planes = Array.tabulate(4, 8)((p, j) => ((p * 31 + j * 7) % 11 - 5) / 5.0)
      val expected = (0 until 2).map { t =>
        (0 until 2).foldLeft(0L) { (acc, i) =>
          val dot = vec.zip(planes(t * 2 + i)).map { case (x, y) => x.toDouble * y }.sum
          if (dot >= 0) acc | (1L << i) else acc
        }
      }
      val got = Seq(vec).toDF("v")
        .select(graft.functions.GraftExpressions.hyperplaneBuckets(col("v"), planes, 2))
        .as[Seq[Long]].head()
      got == expected
    }

  property("SimHash64 == per-token FNV vote reference") =
    forAll(Gen.listOf(Gen.alphaNumStr.map(_.take(8))).map(_.take(20))) { toks =>
      import spark.implicits._
      val votes = new Array[Int](64)
      toks.foreach { t =>
        val h = graft.functions.Fnv1a64.hash(t.getBytes("UTF-8"))
        (0 until 64).foreach(i => if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1)
      }
      val expected = (0 until 64).foldLeft(0L)((s, i) => if (votes(i) > 0) s | (1L << i) else s)
      val got = Seq(toks).toDF("toks")
        .select(graft.functions.GraftExpressions.simhash64(col("toks")))
        .as[Long].head()
      got == expected
    }

  property("CosineSimFloat is symmetric, bounded, 1 on self") =
    forAll(Gen.listOfN(16, Gen.choose(-100, 100).map(_ / 10.0f))) { v =>
      import spark.implicits._
      val w = v.map(x => x * 0.5f + 1.0f)
      val df = Seq((v, w)).toDF("a", "b")
      val ab = df.select(graft.functions.GraftExpressions.cosineSim(col("a"), col("b"))).as[Double].head()
      val ba = df.select(graft.functions.GraftExpressions.cosineSim(col("b"), col("a"))).as[Double].head()
      val aa = df.select(graft.functions.GraftExpressions.cosineSim(col("a"), col("a"))).as[Double].head()
      math.abs(ab - ba) < 1e-12 && ab >= -1.0000001 && ab <= 1.0000001 &&
        (v.forall(_ == 0.0f) && aa == 0.0 || math.abs(aa - 1.0) < 1e-9)
    }

  // ------------------------------------------- CEP batch form vs Scala sim

  private case class Ev(user: Long, id: Long, tsSec: Long, start: Boolean)
  private val genEvents: Gen[List[Ev]] = for {
    n <- Gen.choose(1, 25)
    evs <- Gen.listOfN(n, for {
      u <- Gen.choose(1L, 4L)
      gap <- Gen.choose(1L, 15L)
      st <- Gen.oneOf(true, false)
    } yield (u, gap, st))
  } yield evs.zipWithIndex.map { case ((u, gap, st), i) =>
    Ev(u, i + 1L, 0L, st)
  }.groupBy(_.user).values.flatMap { userEvs =>
    // cumulative gaps per user so timestamps strictly increase
    var t = 100L
    userEvs.map { e => t += (e.id % 15) + 1; e.copy(tsSec = t) }
  }.toList

  /** CEP semantics by direct simulation: a start is a jump iff the next
    * event is beyond 10 s (or absent), or is itself a start. */
  private def simulateJumps(evs: Seq[Ev]): Set[Long] =
    evs.groupBy(_.user).values.flatMap { es =>
      val s = es.sortBy(e => (e.tsSec, e.id))
      s.zipWithIndex.collect {
        case (e, i) if e.start &&
          (i + 1 >= s.length || s(i + 1).tsSec > e.tsSec + 10 || s(i + 1).start) => e.id
      }
    }.toSet

  property("batch lead() jump form == CEP simulation") = forAll(genEvents) { evs =>
    import spark.implicits._
    val df = evs.map(e => (e.user, e.id, e.tsSec, if (e.start) 1 else 0))
      .toDF("user_id", "event_id", "ts", "is_start")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val got = df
      .withColumn("next_ts", lead("ts", 1).over(w))
      .withColumn("next_start", lead("is_start", 1).over(w))
      .filter(col("is_start") === 1 &&
        (col("next_ts").isNull || col("next_ts") > col("ts") + 10 || col("next_start") === 1))
      .select("event_id").as[Long].collect().toSet
    got == simulateJumps(evs)
  }

  // ------------------------------------------------------- upsert algebra

  private val genBatch: Gen[List[(String, String, Long)]] =
    Gen.listOf(for {
      k <- Gen.choose(1, 6).map(i => s"k$i")
      v <- Gen.alphaLowerStr.map(_.take(4))
      t <- Gen.choose(0L, 50L)
    } yield (k, v, t)).map(_.take(12))

  property("DimRouter.upsert: idempotent and latest-wins") =
    forAll(genBatch, genBatch) { (existing, updates) =>
      import spark.implicits._
      // make PKs unique within each side (the merge precondition:
      // existing state has one row per PK, a batch is pre-deduped)
      val e = existing.groupBy(_._1).map(_._2.maxBy(r => (r._3, r._2))).toList
      val u = updates.groupBy(_._1).map(_._2.maxBy(r => (r._3, r._2))).toList
      Prop.propBoolean(e.nonEmpty || u.nonEmpty) ==> Prop {
        val eDf = e.toDF("id", "v", "_cdc_ts")
        val uDf = u.toDF("id", "v", "_cdc_ts")
        val once = graft.operators.DimRouter.upsert(eDf, uDf, "id")
          .as[(String, String, Long)].collect().toSet
        val twice = graft.operators.DimRouter.upsert(once.toList.toDF("id", "v", "_cdc_ts"), uDf, "id")
          .as[(String, String, Long)].collect().toSet
        val expected = (e.map(r => r._1 -> (r, 0)) ++ u.map(r => r._1 -> (r, 1)))
          .groupBy(_._1).view
          .mapValues(_.map(_._2).maxBy { case ((_, _, t), src) => (t, src) }._1)
          .values.toSet
        once == expected && twice == expected
      }
    }

  // ------------------------------------------------------ skew helpers

  private val genRows: Gen[List[(String, String, Long)]] =
    Gen.listOf(for {
      k <- Gen.frequency(6 -> Gen.const("hot"), 2 -> Gen.choose(1, 4).map("k" + _))
      v <- Gen.alphaLowerStr.map(_.take(3))
      m <- Gen.choose(-100L, 100L)
    } yield (k, v, m)).map(_.take(30))

  property("saltedSumCount == plain groupBy sum/count") = forAll(genRows) { rows =>
    import spark.implicits._
    rows.isEmpty || {
      val df = rows.toDF("k", "v", "m")
      val got = graft.operators.Skew.saltedSumCount(df, Seq("k"), Seq("m"))
        .select("k", "cnt", "sum_m").as[(String, Long, Long)].collect().toSet
      val want = df.groupBy("k").agg(count(lit(1)).as("cnt"), sum("m").as("sum_m"))
        .as[(String, Long, Long)].collect().toSet
      got == want
    }
  }

  property("salting spreads a 90%-one-key input across reducers") = {
    // distribution property under real skew, deterministic by design:
    // 90% of rows share one key, so a plain hash agg gives ONE reducer
    // group holding ~90% of the input; grouping on the operator's
    // actual (key, salt) pair must split that hot key into `salts`
    // near-even groups — the unit of reducer work for the two-phase
    // agg. (Partition placement of groups is the partitioner's
    // business and at scale shuffle partitions ≫ groups; the group
    // size IS the structural bound salting controls. The equivalence
    // props above prove semantics; this one proves the spreading.)
    import org.scalacheck.Prop.propBoolean
    import spark.implicits._
    val n = 8192
    val salts = 16
    val df = spark.range(n).select(
      when($"id" % 10 =!= 0, "hot")
        .otherwise(concat(lit("k"), $"id" % 7)).as("k"),
      $"id".as("m"))
    val plainHot = df.groupBy("k").count()
      .filter($"k" === "hot").as[(String, Long)].collect().head._2
    val hotGroups = graft.operators.Skew.withSalt(df, salts)
      .groupBy($"k", $"_salt").count()
      .filter($"k" === "hot").as[(String, Int, Long)].collect().map(_._3)
    val evenShare = plainHot.toDouble / salts
    (plainHot >= (0.85 * n).toInt) :| s"skew fixture not skewed (plainHot=$plainHot)" &&
      (hotGroups.length == salts) :|
        s"hot key spread over ${hotGroups.length} groups, wanted $salts" &&
      (hotGroups.max.toDouble < 1.5 * evenShare) :|
        s"max hot group ${hotGroups.max} >= 1.5x even share $evenShare"
  }

  property("saltedJoin == plain equi-join (inner and left)") = forAll(genRows, genRows) { (l, r) =>
    import spark.implicits._
    (l.isEmpty || r.isEmpty) || {
      val lDf = l.toDF("k", "v", "m")
      val rDf = r.map(t => (t._1, t._2)).distinct.toDF("k", "rv")
      Seq("inner", "left").forall { jt =>
        val got = graft.operators.Skew.saltedJoin(lDf, rDf, Seq("k"), jt)
          .select("k", "v", "m", "rv").as[(String, String, Long, Option[String])]
          .collect().groupBy(identity).view.mapValues(_.length).toMap
        val want = lDf.join(rDf, Seq("k"), jt)
          .select("k", "v", "m", "rv").as[(String, String, Long, Option[String])]
          .collect().groupBy(identity).view.mapValues(_.length).toMap
        got == want
      }
    }
  }

  // ---------------------------------------------------- tokenizer (pure)

  import graft.functions.Tokenizer

  property("tokenizer: deterministic, no empty tokens, lowercased latin") =
    forAll(Gen.listOf(Gen.oneOf(Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("手机", "大数据", "苹果", "中", ",", "!", " "))).map(_.mkString(" "))) { s =>
      val t1 = Tokenizer.segment(s)
      val t2 = Tokenizer.segment(s)
      t1 == t2 && t1.forall(_.nonEmpty) &&
        t1.filter(_.forall(c => c < 128)).forall(tok => tok == tok.toLowerCase)
    }

  property("tokenizer: CJK runs of length n yield n-1 bigrams") =
    forAll(Gen.choose(2, 8)) { n =>
      val run = Seq.fill(n)(Seq("中", "文", "分", "词", "器")((n * 7) % 5)).mkString
      Tokenizer.segment(run).size == n - 1
    }

  // ---------------------------------------- media header probe (pure)

  import graft.functions.MediaHeaders

  private val genDim = Gen.choose(1, 0xFFFF)

  property("MediaHeaders: PNG round-trip over random dims and color types") =
    forAll(genDim, genDim, Gen.oneOf(0, 2, 3, 4, 6)) { (w, h, ct) =>
      val bs = (Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a,
        0, 0, 0, 13, 'I'.toInt, 'H'.toInt, 'D'.toInt, 'R'.toInt,
        w >> 24, (w >> 16) & 255, (w >> 8) & 255, w & 255,
        h >> 24, (h >> 16) & 255, (h >> 8) & 255, h & 255,
        8, ct, 0, 0, 0, 9) map (_.toByte))
      val ch = Map(0 -> 1, 2 -> 3, 3 -> 1, 4 -> 2, 6 -> 4)(ct)
      MediaHeaders.packedInfo(bs) == MediaHeaders.pack(MediaHeaders.FmtPng, w, h, ch, 0)
    }

  property("MediaHeaders: JPEG marker scan skips variable segments to SOFn") =
    forAll(genDim, genDim, Gen.choose(1, 4), Gen.choose(0, 30)) { (w, h, comps, pad) =>
      // SOI + a COM segment of `pad` content bytes + SOF0
      val com = Array(0xff, 0xfe, (pad + 2) >> 8, (pad + 2) & 255) ++ Array.fill(pad)(0x41)
      val bs = (Array(0xff, 0xd8) ++ com ++
        Array(0xff, 0xc0, 0, 17, 8, h >> 8, h & 255, w >> 8, w & 255, comps) ++
        Array.fill(9)(0)) map (_.toByte)
      MediaHeaders.packedInfo(bs) == MediaHeaders.pack(MediaHeaders.FmtJpeg, w, h, comps, 0)
    }

  property("MediaHeaders: JPEG scan stops at SOS/EOI — payload FF Cx is not a frame header") =
    forAll(Gen.oneOf(0xda, 0xd9), Gen.choose(0, 40), genDim, genDim) { (stop, pad, w, h) =>
      // SOI + a COM segment + the stop marker (SOS with a length field,
      // EOI standalone) + entropy/content bytes containing a bogus SOF0
      // with plausible dimensions — the scan must report 0×0, never the
      // planted garbage
      val com = Array(0xff, 0xfe, 0, 2)
      val stopSeg = if (stop == 0xda) Array(0xff, 0xda, 0, 8, 1, 1, 0, 0, 63, 0)
                    else Array(0xff, 0xd9)
      val fakeSof = Array(0xff, 0xc0, 0, 17, 8, h >> 8, h & 255, w >> 8, w & 255, 3)
      val bs = (Array(0xff, 0xd8) ++ com ++ stopSeg ++
        Array.fill(pad)(0x00) ++ fakeSof ++ Array.fill(9)(0)) map (_.toByte)
      MediaHeaders.packedInfo(bs) == MediaHeaders.pack(MediaHeaders.FmtJpeg, 0, 0, 0, 0)
    }

  property("MediaHeaders: JPEG probe never throws on arbitrary tails") =
    forAll(Gen.listOf(Gen.choose(0, 255))) { tail =>
      val bs = (Array(0xff, 0xd8) ++ tail.toArray) map (_.toByte)
      val packed = MediaHeaders.packedInfo(bs) // must not throw
      (packed >>> 60) == MediaHeaders.FmtJpeg.toLong
    }

  property("MediaHeaders: WAV fmt chunk round-trip; truncation never throws") =
    forAll(Gen.choose(1, 8), Gen.choose(1, 0xFFFF), Gen.choose(0, 44)) { (ch, rate, cut) =>
      val full = ("RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WAVEfmt ".getBytes ++
        (Array(16, 0, 0, 0, 1, 0, ch & 255, ch >> 8,
          rate & 255, (rate >> 8) & 255, (rate >> 16) & 255, rate >> 24,
          0, 0, 0, 0, 4, 0, 16, 0) map (_.toByte)))
      val whole = MediaHeaders.packedInfo(full) ==
        MediaHeaders.pack(MediaHeaders.FmtWav, 0, 0, ch, rate)
      val truncated = MediaHeaders.packedInfo(full.take(cut)) // must not throw
      whole && (truncated == 0L || cut >= 2)
    }

  // ----------------------------------------- components core vs union-find

  private val genEdges: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(2, 40)
    m <- Gen.choose(0, 60)
    es <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong - 1)
      b <- Gen.choose(0L, n.toLong - 1)
    } yield (a, b))
  } yield es

  /** Driver-side union-find reference: vertex -> min id of its component. */
  private def unionFindRoots(edges: Seq[(Long, Long)]): Long => Long = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    find
  }

  // edges spread over 1-4 partitions with a 1-3 vertex seed cap: local
  // union-find sets are fragments, so seeds conflict and the star
  // phases run on the conflict graph
  property("seeded component labels == union-find on repartitioned random graphs") =
    forAll(genEdges, Gen.choose(1, 4), Gen.choose(1, 3)) { (es, parts, cap) =>
      import spark.implicits._
      val labels = graft.operators.Dedup.componentLabels(
          es.toDF("doc_a", "doc_b").repartition(parts), seedCap = cap)
        .as[(Long, Long)].collect()
      val root = unionFindRoots(es)
      val verts = es.flatMap { case (a, b) => Seq(a, b) }.distinct
      labels.map(_._1).sorted.sameElements(verts.sorted) &&
        labels.forall { case (v, r) => r == root(v) }
    }

  // seedCap = 1: every seed is one edge, so the star phases contract the
  // whole edge graph on one partition (the seed joins nothing)
  property("star-contraction components == union-find on random graphs") =
    forAll(genEdges) { es =>
      import spark.implicits._
      val edges = es.filter { case (a, b) => a != b }
      edges.isEmpty || {
        val labels = graft.operators.Dedup.componentLabels(
            edges.toDF("doc_a", "doc_b").repartition(1), seedCap = 1)
          .as[(Long, Long)].collect().toMap
        val root = unionFindRoots(edges)
        val verts = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        labels.keySet == verts.toSet && verts.forall(v => labels(v) == root(v))
      }
    }

  // --------------------------------------- two-level rank/prefix ≡ naive

  private val genRanked = for {
    n <- Gen.choose(1, 80)
    rows <- Gen.listOfN(n, for {
      grp <- Gen.choose(0L, 2L)
      v <- Gen.choose(0L, 9L)
    } yield (grp, v))
  } yield rows.zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }

  property("two-level rankAndPrefix == naive per-group window on random inputs") =
    forAll(genRanked) { rows =>
      import spark.implicits._
      val df = rows.toDF("doc_id", "grp", "v")
        .withColumn("key", md5(concat(col("grp"), lit("#"), col("doc_id"))))
      val got = graft.operators.Curation.rankAndPrefix(df, "grp", "key", "v")
        .select("doc_id", "rank", "cum_before")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      val w = Window.partitionBy(col("grp")).orderBy(col("key"), col("doc_id"))
      val naive = df
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum_before", coalesce(sum(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("doc_id", "rank", "cum_before")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      got.toSeq == naive.toSeq
    }

  // ------------------------------------------------ search-tier algebra

  private val genScored: Gen[List[(String, Long, Long)]] =
    Gen.listOf(for {
      q <- Gen.oneOf("qa", "qb")
      d <- Gen.choose(0L, 40L)
      s <- Gen.choose(-50L, 50L)
    } yield (q, d, s)).map(_.take(60))

  property("two-phase salted top-k == single-window top-k on random scores") =
    forAll(genScored) { rows =>
      import spark.implicits._
      rows.isEmpty || {
        // one row per (qid, doc): the operator's input contract
        val df = rows.toDF("qid", "doc_id", "score_fp")
          .groupBy("qid", "doc_id").agg(max($"score_fp").as("score_fp"))
          .withColumn("matched_terms", lit(1L))
        val two = graft.operators.Search.topKTwoPhase(df, 5)
          .select("qid", "rk", "doc_id", "score_fp")
          .as[(String, Int, Long, Long)].collect().toSet
        val one = df.withColumn("rk", row_number().over(
            Window.partitionBy($"qid").orderBy($"score_fp".desc, $"doc_id")))
          .filter($"rk" <= 5).select("qid", "rk", "doc_id", "score_fp")
          .as[(String, Int, Long, Long)].collect().toSet
        two == one
      }
    }

  private val genDocsAndPhrase: Gen[(List[(Long, String)], String)] = for {
    alphabet <- Gen.const(Seq("a", "b", "c"))
    docs <- Gen.listOf(for {
      id <- Gen.choose(0L, 20L)
      toks <- Gen.listOfN(12, Gen.oneOf(alphabet))
    } yield (id, toks.mkString(" "))).map(_.take(8))
    plen <- Gen.choose(1, 3)
    p <- Gen.listOfN(plen, Gen.oneOf(alphabet))
  } yield (docs.distinctBy(_._1), p.mkString(" "))

  // ---------------------------------------------- BPE merge semantics

  // symbols drawn from a 3-letter alphabet so shared-delimiter chains
  // (" a a a a ") and adjacent-overlap cases are COMMON, not rare
  private val genSyms = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "ab"))
  private val genPair = Gen.zip(Gen.oneOf("a", "b", "ab"), Gen.oneOf("a", "b", "ab"))

  /** Reference leftmost-greedy non-overlapping merge over the symbol
    * list — the semantics BPE specifies. */
  private def greedyMerge(syms: List[String], a: String, b: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  property("two-pass replace: residual-free; == leftmost-greedy whenever a != b") =
    forAll(genSyms, genPair) { case (syms, (a, b)) =>
      val s = " " + syms.mkString(" ") + " "
      val pat = s" $a $b "
      val rep = s" $a$b "
      val twoPass = s.replace(pat, rep).replace(pat, rep)
      // self-pairs (a == b) legitimately diverge from leftmost-greedy on
      // runs >= 5 (documented in bpeApplyMerge); for them the pinned
      // contract is residual-freeness + merge validity (merged tokens
      // split back to the input sequence), not greedy positioning
      val greedyOk = a == b ||
        twoPass == " " + greedyMerge(syms, a, b).mkString(" ") + " "
      val rebuilt = twoPass.trim.split(" ").toList
        .flatMap(t => if (t == a + b) List(a, b) else List(t))
      // reconstruction is only a faithful inverse when a+b is not
      // itself an input symbol (else splitting over-corrects)
      val validOk = syms.contains(a + b) || rebuilt == syms
      !twoPass.contains(pat) && greedyOk && validOk
    }

  property("phrase vote join == naive sliding-window scan on random docs") =
    forAll(genDocsAndPhrase) { case (docs, phrase) =>
      import spark.implicits._
      docs.isEmpty || {
        val got = graft.operators.Search
          .phraseOccurrencesOn(docs.toDF("doc_id", "text"), Seq("p" -> phrase))
          .select("doc_id", "n_occurrences", "first_pos")
          .as[(Long, Long, Long)].collect().toSet
        val p = phrase.split(" ").toVector
        val want = (for {
          (id, t) <- docs
          toks = t.toLowerCase.split(" ", -1).toVector
          starts = (0 to toks.size - p.size).filter(i => toks.slice(i, i + p.size) == p)
          if starts.nonEmpty
        } yield (id, starts.size.toLong, starts.head.toLong)).toSet
        got == want
      }
    }

  private val genVecRows: Gen[List[(String, List[Long])]] =
    Gen.listOf(for {
      g <- Gen.oneOf("a", "b")
      v <- Gen.listOfN(5, Gen.choose(-1000L, 1000L))
    } yield (g, v)).map(_.take(30))

  property("VectorSumAgg == driver-side element-wise sums on random vectors") =
    forAll(genVecRows) { rows =>
      import spark.implicits._
      rows.isEmpty || {
        val got = rows.toDF("g", "v").repartition(4)
          .groupBy("g")
          .agg(graft.functions.GraftExpressions.vectorSumAgg(col("v"), 5).as("s"))
          .as[(String, Seq[Long])].collect().toMap
        val want = rows.groupBy(_._1).map { case (g, rs) =>
          g -> (0 until 5).map(i => rs.map(_._2(i)).sum)
        }
        got.view.mapValues(_.toSeq).toMap == want.view.mapValues(_.toSeq).toMap
      }
    }

  private val genTopKRows: Gen[(Int, List[(String, Double, String)])] = for {
    k <- Gen.choose(1, 5)
    rows <- Gen.listOf(for {
      g <- Gen.oneOf("g1", "g2", "g3")
      // small score domain forces tie-break coverage
      s <- Gen.choose(0, 6).map(_.toDouble)
      t <- Gen.choose(0, 999).map(i => f"$i%04d")
    } yield (g, s, t)).map(_.take(40))
  } yield (k, rows)

  property("TopKAgg == driver-side sortBy(score DESC, tag ASC).take(k)") =
    forAll(genTopKRows) { case (k, rows) =>
      import spark.implicits._
      rows.isEmpty || {
        val got = rows.toDF("g", "s", "t").repartition(5)
          .groupBy("g")
          .agg(graft.functions.GraftExpressions.topkAgg(col("s"), col("t"), k).as("top"))
          .select($"g", posexplode($"top"))
          .select($"g", $"pos", $"col.score", $"col.tag")
          .as[(String, Int, Double, String)].collect().toSet
        // duplicate (score, tag) rows are indistinguishable values, so
        // the agg (which keeps them as separate slots) and a plain
        // sorted take(k) produce identical sequences
        val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
          rs.map(r => (r._2, r._3))
            .sortBy { case (s, t) => (-s, t) }.take(k)
            .zipWithIndex.map { case ((s, t), i) => (g, i, s, t) }
        }.toSet
        got == want
      }
    }

  // sparse, duplicate-free keys with arbitrary gaps; small bucket sizes
  // force multi-bucket composition, large ones the single-bucket path
  private val genPackRows = for {
    keys <- Gen.listOf(Gen.choose(0L, 4_000_000L)).map(_.distinct.take(80))
    toks <- Gen.listOfN(keys.size, Gen.choose(0L, 500L))
  } yield keys.zip(toks)

  property("packByKey == sequential prefix sum on sparse keys, any bucket size") =
    forAll(genPackRows, Gen.oneOf(1L, 3L, 64L, 1_000_000L)) { (rows, bucketKeys) =>
      import spark.implicits._
      rows.isEmpty || {
        val got = graft.operators.Curation
          .packByKey(rows.toDF("pack_key", "tok_ct").repartition(7),
            capacity = 100L, bucketKeys = bucketKeys)
          .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
        var off = 0L
        val want = rows.sortBy(_._1).map { case (key, t) =>
          val r = (key, t, off, off / 100L); off += t; r
        }
        got == want
      }
    }

  /** Mixed, uneven, shallow and deep fanout LISTS (the chunkPack
    * shape: a structure-aligned first level, then dense levels) —
    * the result must be fanout-plan-independent. */
  property("packByKeyFanouts == sequential prefix sum under any fanout plan") =
    forAll(genPackRows,
      Gen.oneOf(Seq.empty[Long], Seq(7L), Seq(65536L, 64L),
        Seq(4096L, 4096L, 4096L), Seq(1L, 3L, 9L, 27L))) { (rows, fanouts) =>
      import spark.implicits._
      rows.isEmpty || {
        val got = graft.operators.Curation
          .packByKeyFanouts(rows.toDF("pack_key", "tok_ct").repartition(7),
            capacity = 100L, fanouts = fanouts)
          .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
        var off = 0L
        val want = rows.sortBy(_._1).map { case (key, t) =>
          val r = (key, t, off, off / 100L); off += t; r
        }
        got == want
      }
    }

  // ---------------------------------------- tokenIds distributed rank

  /** The three-level rank decomposition behind `text_token_ids`
    * (parallel windows per (ct, md5-bucket) → ≤256-row bucket offsets
    * → distinct-count cumsum) against the naive single-window rank.
    * Tiny alphabet on purpose: heavy count ties exercise the
    * cross-bucket ordering, the dominant ct=1 tail, and the md5
    * tie-break — the parts a uniform vocabulary would never stress. */
  property("tokenIdsOn 3-level rank == naive global-window rank") = {
    val genDoc = Gen.nonEmptyListOf(
      Gen.oneOf("a", "b", "c", "aa", "bb", "zz", "q", "longword"))
      .map(_.mkString(" "))
    forAll(Gen.nonEmptyListOf(genDoc).map(_.take(6))) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val toks = graft.operators.Curation.tokensOf(docs)
      val got = graft.operators.Curation.tokenIdsOn(toks)
        .as[(Long, Long, Long)].collect().toSet
      val ids = toks.groupBy($"token").agg(count(lit(1)).as("ct"))
        .withColumn("token_id", row_number().over(
          Window.orderBy($"ct".desc, md5($"token"), $"token")).cast("long"))
      val want = toks.join(ids, "token")
        .select($"doc_id", $"pos".cast("long"), $"token_id")
        .as[(Long, Long, Long)].collect().toSet
      got == want
    }
  }

  // ------------------------------------------ byte-entropy kernel

  /** `ByteEntropyStats` (the codegen histogram kernel) against a
    * driver-side recompute with the identical op order: counts per
    * code point, p = ct/n, term = p·detLn(p) (the 20-sqrt ln),
    * ascending fold from 0.0, negated. Bit-equality, not tolerance. */
  property("ByteEntropyStats == driver-side sorted-fold recompute") = {
    // ASCII-weighted but includes BMP non-surrogate unicode: the
    // kernel iterates CODE POINTS, and for BMP chars the driver's
    // char-wise recompute is code-point-exact — pinning the kernel
    // beyond the fixture's ASCII contract
    // listOf (not nonEmpty): empty content must replay the legacy
    // split('','') → [''] contract, (1, 1, 0.0) — pinned here since
    // the fixture docs never exercise it
    val genText = Gen.listOf(Gen.frequency(
      (4, Gen.choose(32, 126)), (1, Gen.choose(0xA0, 0xD7FF))))
      .map(_.map(_.toChar).mkString)
    forAll(Gen.nonEmptyListOf(genText).map(_.take(6) :+ "")) { texts =>
      import spark.implicits._
      val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select($"doc_id",
          graft.functions.GraftExpressions.byteEntropyStats($"text").as("st"))
        .select($"doc_id", $"st.n_bytes", $"st.distinct_bytes", $"st.entropy")
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      def detLn(x: Double): Double = {
        var c = x; (0 until 20).foreach(_ => c = Math.sqrt(c)); (c - 1.0) * 1048576.0
      }
      val want = texts.zipWithIndex.map { case (t, i) =>
        if (t.isEmpty) i.toLong -> ((1L, 1L, 0.0))
        else {
        val counts = t.groupBy(identity).view.mapValues(_.length.toLong)
        val n = t.length.toLong
        val terms = counts.values.map { ct =>
          val p = ct.toDouble / n.toDouble; p * detLn(p)
        }.toArray.sorted
        val s = terms.foldLeft(0.0)(_ + _)
        i.toLong -> ((n, counts.size.toLong, 0.0 - s))
        }
      }.toMap
      got == want
    }
  }

  // ------------------------------------------------ blockhash bit rule

  /** Driver-side reimplementation of Multimodal.blockHashesOn: block
    * of byte p = ⌊p·64/L⌋, bit = block-sum·L > total·block-count,
    * bands = 16-bit packs. Random ASCII content, including lengths
    * straddling the ≥64 gate and block-boundary sizes. */
  property("blockHashesOn == driver-side bit-rule recompute on random ASCII+BMP") = {
    // ASCII-weighted with BMP non-surrogate unicode mixed in: the
    // kernel counts code points; the driver recompute below iterates
    // chars, which equals code points for BMP (no surrogate pairs)
    val genDoc = for {
      n <- Gen.frequency((1, Gen.choose(0, 63)), (4, Gen.choose(64, 400)))
      cs <- Gen.listOfN(n, Gen.frequency(
        (6, Gen.choose(32, 126)), (1, Gen.choose(0xA0, 0xD7FF))))
    } yield cs.map(_.toChar).mkString
    forAll(Gen.nonEmptyListOf(genDoc).map(_.take(6))) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = graft.operators.Multimodal.blockHashesOn(docs.toDF("doc_id", "t"))
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, (r._3, r._4, r._5, r._6))).toMap
      val want = docs.filter(_._2.length >= 64).map { case (id, t) =>
        val l = t.length
        val sums = new Array[Long](64); val cts = new Array[Long](64)
        var total = 0L
        t.zipWithIndex.foreach { case (c, p) =>
          val b = (p.toLong * 64 / l).toInt
          sums(b) += c.toLong; cts(b) += 1; total += c.toLong
        }
        val bands = new Array[Long](4)
        (0 until 64).foreach { b =>
          if (sums(b) * l > total * cts(b)) bands(b / 16) |= 1L << (b % 16)
        }
        id -> (l.toLong, (bands(0), bands(1), bands(2), bands(3)))
      }.toMap
      got == want
    }
  }
}
