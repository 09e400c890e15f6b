package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.llmops.TextOps
import graft.ops.{Calendar, Dedup, NameAlgebra, Shape}

/** Property-based invariants (SURVEY.md §5 item 2): name-algebra
  * inverses, dedup idempotence, bin arithmetic, hash ranges, MinHash
  * set-semantics — checked over ScalaCheck-generated inputs, evaluated
  * through the same Catalyst expressions the engine uses. (Plain
  * sample loops: the scalatest/scalacheck bridge isn't in the offline
  * dependency cache.) */
class PropertySpec extends AnyFunSuite {

  lazy val spark = graft.core.Sessions.local(4, "graft-prop-test")
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 25): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private val token: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar))
      .map(_.mkString)

  test("dataset name algebra inverts construction: /p/q/t round-trips") {
    val cases = samples(Gen.zip(token, token, token))
    val df = cases.map { case (p, q, tr) => s"/$p/$q/$tr" }.toDF("ds")
      .select(col("ds"), NameAlgebra.primaryDataset(col("ds")),
        NameAlgebra.processedDataset(col("ds")),
        NameAlgebra.dataTier(col("ds")))
    df.collect().zip(cases).foreach { case (r, (p, q, tr)) =>
      assert(r.getString(1) == p && r.getString(2) == q
        && r.getString(3) == tr, s"failed for ${r.getString(0)}")
    }
  }

  test("block dataset extraction: dataset#uuid → dataset, any uuid") {
    val cases = samples(Gen.zip(token, token))
    val got = cases.map { case (ds, u) => s"/$ds/x/RAW#$u" }.toDF("b")
      .select(NameAlgebra.blockDataset(col("b"))).collect()
    got.zip(cases).foreach { case (r, (ds, _)) =>
      assert(r.getString(0) == s"/$ds/x/RAW")
    }
  }

  test("cleanSiteName keeps ≤3 tokens and is idempotent") {
    val sites = samples(Gen.choose(1, 6)
      .flatMap(n => Gen.listOfN(n, token)).map(_.mkString("_")))
    val once = sites.toDF("s")
      .select(NameAlgebra.cleanSiteName(col("s"))).collect()
      .map(_.getString(0))
    val twice = once.toSeq.toDF("s")
      .select(NameAlgebra.cleanSiteName(col("s"))).collect()
      .map(_.getString(0))
    once.zip(twice).foreach { case (o, t) =>
      assert(o.split("_").length <= 3 && t == o)
    }
  }

  test("dropDuplicates is idempotent and bounded by distinct keys") {
    samples(Gen.nonEmptyListOf(Gen.choose(0, 5)), 10).foreach { xs =>
      val d1 = Dedup.byKeys(xs.toDF("k"), Seq("k"))
      assert(d1.count() == xs.distinct.size)
      assert(Dedup.byKeys(d1, Seq("k")).count() == d1.count())
    }
  }

  test("tumbling bins: bin start ≤ ts < bin start + width, aligned") {
    val cases = samples(
      Gen.zip(Gen.choose(0L, 4102444800L), Gen.choose(1L, 86400L)), 40)
    cases.groupBy(_._2).foreach { case (w, group) =>
      val ts = group.map(_._1)
      val bins = ts.toDF("ts")
        .select(Calendar.tumblingBinSeconds(col("ts"), w)).collect()
        .map(_.getLong(0))
      ts.zip(bins).foreach { case (t, bin) =>
        assert(bin % w == 0 && bin <= t && t < bin + w, s"ts=$t w=$w")
      }
    }
  }

  test("name algebra yields NULL on malformed names, never throws " +
    "(ANSI mode)") {
    // real dumps contain names with missing components; under Spark 4
    // ANSI defaults getItem would throw ArrayIndexOutOfBounds
    val bad = Seq("UNKNOWN", "", "/only-prim", "noslash", "T2").toDF("s")
    val r = bad.select(
      NameAlgebra.primaryDataset(col("s")).as("p"),
      NameAlgebra.processedDataset(col("s")).as("q"),
      NameAlgebra.dataTier(col("s")).as("t"),
      NameAlgebra.siteCountry(col("s")).as("c"),
      NameAlgebra.parseDn(col("s")).as("dn")).collect()
    assert(r.length == 5) // completes
    val unknown = r(0)
    assert(unknown.isNullAt(1) && unknown.isNullAt(2)
      && unknown.isNullAt(3))
    assert(r(3).getString(4) == "noslash") // parseDn passthrough
  }

  test("native hash60 == composed conv(substring(md5)) bit-for-bit") {
    // unicode + empty + long strings: byte-level md5 must agree with
    // the hex-prefix parse for every input shape
    val tricky = Seq("", "a", "é", "日本語", "x" * 1000, "a b c",
      "\u0000nul", "ñandú CN=/x/y#z")
    val rand = samples(Gen.listOf(Gen.asciiPrintableChar).map(_.mkString),
      40)
    val df = (tricky ++ rand).toDF("s")
      .select(TextOps.hash60(col("s")).as("native"),
        TextOps.hash60Composed(col("s")).as("composed"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native shingle_hash60 == composed distinct/transform/hash60") {
    // covers: < n tokens (empty), exactly n, repeats (dedup order),
    // unicode bytes, empty tokens from double spaces
    val tricky = Seq("", "a", "a b", "a b c", "a b c d e",
      "x x x x x", "é ñ 日 本 語 ü", "a  b c d", "t1 t2 t1 t2 t1 t2 t1")
    val rand = samples(Gen.listOf(token).map(_.mkString(" ")), 40)
    val df = (tricky ++ rand).toDF("s")
      .select(TextOps.shingleHashes(col("s")).as("native"),
        TextOps.shingleHashesComposed(col("s")).as("composed"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
    // non-default n
    val df2 = (tricky ++ rand).toDF("s")
      .select(TextOps.shingleHashes(col("s"), 2).as("native"),
        TextOps.shingleHashesComposed(col("s"), 2).as("composed"))
    df2.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("native kernels: interpreted (constant-folded) == codegen path") {
    // literal inputs are constant-folded at plan time through
    // nullSafeEval (interpreted); column inputs run the generated
    // code — the two paths must agree or a folded subexpression
    // would silently diverge from the per-row value
    val doc = "t1 t2 t3 t1 t2 t3 t4"
    val lits = spark.range(1).select(
      TextOps.shingleHashes(lit(doc)).as("sh"),
      TextOps.shingleHashesAll(lit(doc)).as("sha"),
      call_function("minhash_slots",
        TextOps.shingleHashes(lit(doc))).as("ms"),
      call_function("repeat_gram",
        TextOps.tokens(lit(doc)), lit(8)).as("rg")).head()
    val cols = Seq(doc).toDF("text").select(
      TextOps.shingleHashes(col("text")).as("sh"),
      TextOps.shingleHashesAll(col("text")).as("sha"),
      call_function("minhash_slots",
        TextOps.shingleHashes(col("text"))).as("ms"),
      call_function("repeat_gram",
        TextOps.tokens(col("text")), lit(8)).as("rg")).head()
    assert(lits.getSeq[Long](0) == cols.getSeq[Long](0))
    assert(lits.getSeq[Long](1) == cols.getSeq[Long](1))
    assert(lits.getSeq[Long](2) == cols.getSeq[Long](2))
    assert(lits.getSeq[Long](3) == cols.getSeq[Long](3))
  }

  test("native shingle_hash60_all == composed transform/hash60") {
    val tricky = Seq("", "a", "a b", "a b c", "a b c d e",
      "x x x x x", "é ñ 日 本 語 ü", "a  b c d", "t1 t2 t1 t2 t1 t2 t1")
    val rand = samples(Gen.listOf(token).map(_.mkString(" ")), 40)
    val df = (tricky ++ rand).toDF("s")
      .select(TextOps.shingleHashesAll(col("s")).as("native"),
        transform(TextOps.shingles(col("s")),
          g => TextOps.hash60(g)).as("composed"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("native minhash_slots == composed transform/array_min per slot") {
    val rand = samples(Gen.listOf(token).map(_.mkString(" ")), 40)
      .filter(_.split(" ").length >= 3)
    val df = rand.toDF("text").withColumn("doc_id",
      monotonically_increasing_id())
    val native = TextOps.minhashSignatures(df, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq.tail)
    val hs = TextOps.shingleHashesComposed(col("text"))
    val composed = df.filter(size(TextOps.tokens(col("text"))) >= 3)
      .select(col("doc_id"), hs.as("hs"))
      .select(col("doc_id"),
        TextOps.minhashSlotArray(col("hs"),
          TextOps.MinHashPerms(0)._1, TextOps.MinHashPerms(0)._2),
        TextOps.minhashSlotArray(col("hs"),
          TextOps.MinHashPerms(1)._1, TextOps.MinHashPerms(1)._2),
        TextOps.minhashSlotArray(col("hs"),
          TextOps.MinHashPerms(2)._1, TextOps.MinHashPerms(2)._2),
        TextOps.minhashSlotArray(col("hs"),
          TextOps.MinHashPerms(3)._1, TextOps.MinHashPerms(3)._2))
      .orderBy("doc_id").collect().map(_.toSeq.tail)
    assert(native.toSeq == composed.toSeq)
  }

  test("hash60 stays in [0, 2^60) and equal inputs collide") {
    val toks = samples(token, 40)
    val got = (toks ++ toks).toDF("s")
      .select(TextOps.hash60(col("s"))).collect().map(_.getLong(0))
    val (first, second) = got.splitAt(toks.size)
    first.zip(second).foreach { case (a, b) => assert(a == b) }
    got.foreach(h => assert(h >= 0 && h < (1L << 60)))
  }

  test("minhash is a set function: shingle multiplicity irrelevant") {
    samples(Gen.listOfN(6, token), 8).foreach { toks =>
      val doc = toks.mkString(" ")
      // appending a repeat of the first 5 tokens adds NO new 3-shingles
      // only if it repeats a contiguous run incl. boundaries — instead
      // just assert identical docs agree and slots are in range
      val df = Seq((1L, doc), (2L, doc)).toDF("doc_id", "text")
      val sigs = TextOps.minhashSignatures(df, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.toSeq.tail)
      assert(sigs(0) == sigs(1))
      sigs(0).foreach(v => assert(v.asInstanceOf[Long] >= 0
        && v.asInstanceOf[Long] < TextOps.MinHashP))
    }
  }

  test("union-of-snapshots is associative on counts") {
    samples(Gen.zip(Gen.choose(0, 20), Gen.choose(0, 20),
      Gen.choose(0, 20)), 5).foreach { case (a, b, c) =>
      val (da, db, dc) = ((1 to a).toDF("x"), (1 to b).toDF("x"),
        (1 to c).toDF("x"))
      val left = graft.core.IO.unionSnapshots(
        Seq(graft.core.IO.unionSnapshots(Seq(da, db)), dc))
      val right = graft.core.IO.unionSnapshots(
        Seq(da, graft.core.IO.unionSnapshots(Seq(db, dc))))
      assert(left.count() == right.count() && left.count() == a + b + c)
    }
  }

  test("shape ops: prefix+upper compose and preserve arity") {
    val df = Seq((1, "x")).toDF("id", "name")
    val got = Shape.upperColumns(Shape.prefixColumns(df, "d_"))
    assert(got.columns.toSeq == Seq("D_ID", "D_NAME"))
    assert(got.count() == 1)
  }

  test("unpackStruct + dottedField reach nested and dotted names") {
    val df = Seq((1, ("a", 2.0))).toDF("id", "s")
    val flat = Shape.unpackStruct(df, "s", keep = Seq("id"))
    assert(flat.columns.toSeq == Seq("id", "_1", "_2"))
    val dotted = spark.sql("SELECT named_struct('sec.app', 7) AS data")
      .select(Shape.dottedField("data", "sec.app").as("v"))
    assert(dotted.head().getInt(0) == 7)
  }

  test("renameAll maps exactly the named columns") {
    val df = Seq((1, "x", 2.0)).toDF("a", "b", "c")
    val got = Shape.renameAll(df, Map("a" -> "A1", "c" -> "C1"))
    assert(got.columns.toSeq == Seq("A1", "b", "C1"))
  }

  test("ngramJaccardPairs = brute-force Jaccard on random corpora") {
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val doc = Gen.choose(3, 8).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    samples(Gen.listOfN(6, doc), 4).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.llmops.TextOps
        .ngramJaccardPairs(df, "doc_id", "text", minJac = 0.2,
          maxDf = 1000)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // driver-side oracle: distinct 3-gram sets, exact Jaccard
      def shingleSet(t: String): Set[String] = {
        val toks = t.split(" ")
        if (toks.length < 3) Set.empty
        else toks.sliding(3).map(_.mkString(" ")).toSet
      }
      val sets = docs.map(shingleSet)
      val expect = (for {
        i <- docs.indices; j <- docs.indices if i < j
        inter = (sets(i) & sets(j)).size
        if inter > 0
        jac = inter.toDouble / (sets(i) | sets(j)).size
        if jac >= 0.2
      } yield (i.toLong, j.toLong) -> jac).toMap
      assert(got.keySet == expect.keySet, s"docs=$docs")
      expect.foreach { case (k, v) =>
        assert(math.abs(got(k) - v) < 1e-12, s"jac mismatch at $k")
      }
    }
  }

  test("dedup components = true connected components on random graphs") {
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)))
      .map(_.filter { case (a, b) => a != b })
    samples(edgeGen, 6).filter(_.nonEmpty).foreach { edges =>
      // oracle: driver-side union-find over the same edge list
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(n => n -> find(n)).toMap
      // min-label canonicalization: every member labels with the min id
      val canon = expected.groupBy(_._2).flatMap { case (_, m) =>
        val mn = m.keys.min; m.keys.map(_ -> mn)
      }
      val got = graft.llmops.DedupClusters
        .components(edges.toDF("a", "b"), "a", "b", maxIters = 25)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == canon, s"edges=$edges")
      // pointer jumping reaches the identical fixpoint
      val jumped = graft.llmops.DedupClusters
        .components(edges.toDF("a", "b"), "a", "b", maxIters = 25,
          shortcut = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(jumped == canon, s"shortcut, edges=$edges")
    }
  }

  test("wordpiece encodeTokens = brute-force greedy max-munch on " +
    "random vocabs (UNK where no piece matches)") {
    val piece: Gen[String] = Gen.choose(1, 4)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')))
      .map(_.mkString)
    val tokGen: Gen[String] = Gen.choose(1, 12)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')))
      .map(_.mkString)
    (1 to 3).foreach { round =>
      val pieces = samples(piece, 15).distinct
      val toks = samples(tokGen, 30).distinct
      def brute(t: String): (Long, Long) = {
        var i = 0; var p = 0L; var u = 0L
        while (i < t.length) {
          val hit = pieces.filter(t.startsWith(_, i))
            .map(_.length).sorted.lastOption
          hit match {
            case Some(l) => p += 1; i += l
            case None => p += 1; u += 1; i += 1
          }
        }
        (p, u)
      }
      val vocabDf = pieces.toDF("piece")
        .select(col("piece"), length(col("piece")).as("piece_len"))
      val got = graft.llmops.Tokenize
        .encodeTokens(toks.toDF("tok"), vocabDf)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      toks.foreach(t =>
        assert(got(t) == brute(t), s"round $round tok=$t"))
    }
  }

  test("native simhash_fold == composed per-bit HOF form, 16 and 60 bit") {
    val doc = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("a", "b", "c", "d", "e", "ff", "gg")))
      .map(_.mkString(" "))
    val docs = samples(doc, 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    Seq(16, 60).foreach { bits =>
      val composed = graft.llmops.TextOps
        .simhashNComposed(df, "doc_id", "text", bits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val native = (if (bits == 60)
        graft.llmops.TextOps.simhash60(df, "doc_id", "text")
      else graft.llmops.TextOps.simhash16(df, "doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(native == composed, s"bits=$bits docs=$docs")
    }
  }

  test("asOfJoin = per-row argmax over random keyed timelines") {
    // unique right timestamps per key keep the at-equal-ts semantics
    // total (two right rows at one instant have no defined winner)
    val gen = Gen.zip(
      Gen.listOfN(15, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 50L))),
      Gen.listOfN(10, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 50L))))
    samples(gen, 6).foreach { case (lraw, rraw) =>
      val rights = rraw.distinct // (key, ts) pairs unique
      val lefts = lraw.zipWithIndex
        .map { case ((k, ts), i) => (i.toLong, k, ts) }
      val got = graft.ops.Events.asOfJoin(
        lefts.toDF("lid", "k", "ts"),
        rights.map { case (k, ts) => (k, ts, ts * 10.0) }
          .toDF("k", "ts", "v"),
        "k", "ts", Seq("v"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      lefts.foreach { case (lid, k, ts) =>
        val expect = rights.filter(r => r._1 == k && r._2 <= ts)
          .sortBy(_._2).lastOption.map(_._2 * 10.0)
        assert(got(lid) == expect,
          s"left=($k,$ts) rights=$rights got=${got(lid)}")
      }
    }
  }

  test("sessionize = driver-side gap scan on random event sets") {
    val gap = 10L
    val gen = Gen.listOfN(20,
      Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 100L),
        Gen.choose(1, 9)))
    samples(gen, 6).foreach { raw =>
      val ev = raw.zipWithIndex.map { case ((u, ts, v), i) =>
        (u, ts, i.toLong, v.toDouble) }
      val got = graft.ops.Events.sessionize(
        ev.toDF("u", "ts", "eid", "v"), "u", "ts", "v", gap, "eid",
        ticksPerSecond = 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4),
            r.getDouble(5), r.getLong(6)))).toMap
      val expect = ev.groupBy(_._1).flatMap { case (u, rows) =>
        val sorted = rows.sortBy(r => (r._2, r._3))
        var session = 0L
        var prev = Long.MinValue
        val tagged = sorted.map { r =>
          if (prev == Long.MinValue || r._2 - prev > gap) session += 1
          prev = r._2
          (session, r)
        }
        tagged.groupBy(_._1).map { case (s, g) =>
          val ts = g.map(_._2._2)
          (u, s) -> ((g.size.toLong, ts.min, ts.max,
            g.map(_._2._4).sum, ts.max - ts.min))
        }
      }
      assert(got == expect, s"events=$ev")
    }
  }

  test("decontaminate/dupNgramFraction = brute-force set counts") {
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val doc = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val gen = Gen.zip(Gen.listOfN(6, doc), Gen.listOfN(2, doc))
    def sh(t: String): Set[String] = {
      val toks = t.split(" ")
      if (t.nonEmpty && toks.length >= 3)
        toks.sliding(3).map(_.mkString(" ")).toSet
      else Set.empty
    }
    samples(gen, 6).foreach { case (train, eval) =>
      val trainDf = train.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val evalUnion = eval.flatMap(sh).toSet
      val gotDec = graft.llmops.TextOps.decontaminate(
        trainDf,
        eval.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"),
        "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      train.zipWithIndex.foreach { case (t, i) =>
        val s = sh(t)
        assert(gotDec(i.toLong) ==
          ((s.size.toLong, (s & evalUnion).size.toLong)),
          s"train doc '$t' vs eval $eval")
      }
      val all = train.map(sh)
      val gotDup = graft.llmops.TextOps.dupNgramFraction(
        trainDf, "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      train.indices.foreach { i =>
        val dup = all(i).count(g =>
          all.indices.exists(j => j != i && all(j).contains(g)))
        assert(gotDup(i.toLong) ==
          ((all(i).size.toLong, dup.toLong)), s"docs=$train")
      }
    }
  }

  test("funnel == brute-force sequential scan on random event streams") {
    val stages = Seq("A", "B", "C")
    val eventGen = Gen.zip(Gen.choose(1L, 4L),
      Gen.oneOf("A", "B", "C", "X"), Gen.choose(0L, 40L))
    (1 to 8).foreach { round =>
      val evs = samples(eventGen, 60).zipWithIndex
        .map { case ((u, st, ts), i) => (u, st, ts, i.toLong) }
      val got = graft.ops.Events.funnel(
          evs.toDF("user_id", "stage", "ts", "eid"),
          "user_id", "ts", "stage", stages, tieCol = "eid")
        .collect()
        .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
          Option(r.get(3)), r.getInt(4)))).toMap
      // reference semantics: t1 = min ts of stage 1; t_i = min ts of
      // stage i STRICTLY AFTER t_{i-1} (the running-min cascade
      // reduces to exactly this chain)
      evs.groupBy(_._1).foreach { case (u, rows) =>
        val t = stages.foldLeft(Seq.empty[Option[Long]]) { (acc, st) =>
          val prev = acc.lastOption.getOrElse(Some(Long.MinValue))
          acc :+ prev.flatMap(p => rows.collect {
            case (_, s, ts, _) if s == st && ts > p => ts
          }.minOption)
        }
        val expN = t.count(_.isDefined)
        assert(got(u) == ((t(0).map(Long.box), t(1).map(Long.box),
          t(2).map(Long.box), expN)), s"round=$round user=$u")
      }
    }
  }

  test("snapshotDiff/applyChanges round-trip on random snapshots") {
    val kv: Gen[Map[Long, Long]] = Gen.mapOf(
      Gen.zip(Gen.choose(1L, 40L), Gen.choose(0L, 5L)))
    for (((a, b), i) <- samples(Gen.zip(kv, kv), 10).zipWithIndex) {
      val da = a.toSeq.toDF("k", "v")
      val db = b.toSeq.toDF("k", "v")
      val diff = graft.ops.Incremental.snapshotDiff(
        da, db, Seq("k"), Seq("v"))
      // re-shape the diff into an apply-changes delta: removed → D,
      // added/changed → U with the new value
      val delta = diff.select(col("k"),
        when(col("status") === "removed", lit("D"))
          .otherwise(lit("U")).as("op"),
        col("new_v").as("v"))
      val rebuilt = graft.ops.Incremental.applyChanges(
        da, delta, Seq("k"), Seq("v"), "op")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rebuilt == b, s"case $i: diff+apply must rebuild B")
    }
  }

  test("globalRowNumber is the identity permutation of ranks") {
    val rows: Gen[Seq[(Long, Long)]] = Gen.choose(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 9L)).map(vs =>
        vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }))
    for ((data, i) <- samples(rows, 8).zipWithIndex) {
      val rns = graft.llmops.Sharding
        .globalRowNumber(data.toDF("id", "s"), "s", "id")
        .select(col("rn")).collect().map(_.getLong(0)).sorted
      assert(rns.toSeq == (1L to data.size).toSeq,
        s"case $i: ranks must be exactly 1..n")
    }
  }

  test("weightedMedian: within value range; equals lower median for unit weights") {
    val rows: Gen[Seq[Long]] = Gen.choose(1, 50).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-100L, 100L)))
    for ((vs, i) <- samples(rows, 10).zipWithIndex) {
      val df = vs.zipWithIndex
        .map { case (v, j) => ("g", v, 1L, j.toLong) }
        .toDF("g", "v", "w", "id")
      val m = graft.ops.Aggregates.weightedMedian(df, "g", "v", "w", "id")
        .head().getLong(1)
      val expected = vs.sorted.apply((vs.size - 1) / 2) // lower median
      assert(m == expected, s"case $i: $vs")
    }
  }

  test("gini is in [0, 1) and 0 exactly for constant positive values") {
    val rows: Gen[Seq[Long]] = Gen.choose(2, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 1000L)))
    for ((vs, i) <- samples(rows, 10).zipWithIndex) {
      val df = vs.zipWithIndex.map { case (v, j) => ("g", v, j.toLong) }
        .toDF("g", "v", "id")
      val r = graft.ops.Aggregates.giniCoefficient(df, "g", "v", "id")
        .head()
      if (vs.sum == 0) assert(r.isNullAt(2), s"case $i: all-zero → null")
      else {
        val g = r.getDouble(2)
        assert(g >= 0.0 && g < 1.0, s"case $i: gini $g out of range")
        if (vs.distinct.size == 1)
          assert(g == 0.0, s"case $i: constant values → 0")
      }
    }
  }

  test("groupPearson: |r| <= 1 and matches the BigInt formula") {
    val row = Gen.zip(Gen.choose(1L, 3L), Gen.choose(-50L, 50L),
      Gen.choose(-50L, 50L))
    samples(Gen.listOfN(40, row), 8).foreach { rows =>
      val got = graft.ops.Aggregates.groupPearson(
        rows.toDF("k", "x", "y"), "k", "x", "y")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      rows.groupBy(_._1).foreach { case (k, g) =>
        val n = BigInt(g.size)
        val sx = g.map(r => BigInt(r._2)).sum
        val sy = g.map(r => BigInt(r._3)).sum
        val sxy = g.map(r => BigInt(r._2) * r._3).sum
        val sxx = g.map(r => BigInt(r._2) * r._2).sum
        val syy = g.map(r => BigInt(r._3) * r._3).sum
        val dx = n * sxx - sx * sx
        val dy = n * syy - sy * sy
        if (dx == 0 || dy == 0) assert(got(k) == None)
        else {
          val want = (n * sxy - sx * sy).toDouble /
            (math.sqrt(dx.toDouble) * math.sqrt(dy.toDouble))
          assert(got(k) == Some(want), s"key $k")
          assert(math.abs(got(k).get) <= 1.0 + 1e-12)
        }
      }
    }
  }

  test("groupMode/heavyHitters/dispersionIndex = brute force") {
    val row = Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 5L))
    samples(Gen.listOfN(60, row), 8).foreach { rows =>
      val df = rows.toDF("k", "v")
      // mode: max count, ties to smallest value
      val gotMode = graft.ops.Aggregates.groupMode(df, "k", "v")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      rows.groupBy(_._1).foreach { case (k, g) =>
        val cnt = g.groupBy(_._2).view.mapValues(_.size.toLong)
        val best = cnt.toSeq.minBy { case (v, c) => (-c, v) }
        assert(gotMode(k) == ((best._1, best._2)), s"mode key $k")
      }
      // heavy hitters: top-3 by (count desc, key asc), exact shares
      val gotHh = graft.ops.Skew.heavyHitters(df, "k", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getLong(3)))
      val wantHh = rows.groupBy(_._1).view
        .mapValues(_.size.toLong).toSeq
        .sortBy { case (k, c) => (-c, k) }.take(3)
      assert(gotHh.map(h => (h._1, h._2)).toSeq == wantHh)
      gotHh.zipWithIndex.foreach { case ((_, c, share, rank), i) =>
        assert(rank == i + 1)
        assert(share == c.toDouble / rows.size)
      }
      // dispersion: matches the integer fraction, never negative
      val gotVmr = graft.ops.Aggregates.dispersionIndex(df, "k", "v")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      rows.groupBy(_._1).foreach { case (k, g) =>
        val n = BigInt(g.size)
        val s1 = g.map(r => BigInt(r._2)).sum
        val s2 = g.map(r => BigInt(r._2) * r._2).sum
        if (s1 == 0) assert(gotVmr(k) == None)
        else {
          val want = (n * s2 - s1 * s1).toDouble / (n * s1).toDouble
          assert(gotVmr(k) == Some(want), s"vmr key $k")
          assert(gotVmr(k).get >= 0.0)
        }
      }
    }
  }

  test("rollingMedian/winsorizedMean = brute force on random data") {
    val row = Gen.zip(Gen.choose(1L, 2L), Gen.choose(0L, 12L),
      Gen.choose(0L, 100L))
    samples(Gen.listOfN(25, row), 6).foreach { rows0 =>
      // one value per (key, x) — the rolling grid expects a keyed grid
      val rows = rows0.groupBy(r => (r._1, r._2)).values
        .map(_.head).toSeq
      val df = rows.toDF("k", "x", "v")
      val gotRm = graft.ops.Aggregates
        .rollingMedian(df, "k", "x", "v", span = 5L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          r.getDouble(3)).toMap
      rows.foreach { case (k, x, _) =>
        val win = rows.filter(r => r._1 == k && r._2 <= x &&
          r._2 > x - 5).map(_._3).sorted
        val want = (win((win.size - 1) / 2) + win(win.size / 2)) / 2.0
        assert(gotRm((k, x)) == want, s"key $k x $x win $win")
      }
      // winsorized mean: brute force the same rank clipping
      val gotWm = graft.ops.Aggregates.winsorizedMean(
        rows.map(r => (r._1, r._3, r._2 * 100 + r._1))
          .toDF("k", "v", "id"), "k", "v", "id")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      rows.groupBy(_._1).foreach { case (k, g) =>
        val vs = g.map(r => (r._3, r._2 * 100 + r._1)).sorted.map(_._1)
        val n = vs.size
        val lo = vs(((n + 19) / 20).toInt - 1)
        val hi = vs(((n * 19 + 19) / 20).toInt - 1)
        val clipped = vs.map(v => math.min(math.max(v, lo), hi))
        val want = clipped.sum.toDouble / n
        val (gl, gh, gm) = gotWm(k)
        assert((gl, gh) == ((lo, hi)), s"cuts key $k")
        assert(math.abs(gm - want) < 1e-9, s"mean key $k")
      }
    }
  }

  test("chiSquareKeyness = BigInt contingency formula on random corpora") {
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val doc = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val gen = Gen.zip(Gen.listOfN(5, doc), Gen.listOfN(4, doc))
    samples(gen, 6).foreach { case (focus, ref) =>
      val fDf = focus.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val rDf = ref.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.llmops.TextOps
        .chiSquareKeyness(fDf, rDf, "doc_id", "text", 100)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
      val fSets = focus.map(_.split(" ").toSet)
      val rSets = ref.map(_.split(" ").toSet)
      val vocab = (fSets ++ rSets).flatten.toSet
      assert(got.keySet == vocab)
      vocab.foreach { term =>
        val a = BigInt(fSets.count(_ contains term))
        val b = BigInt(rSets.count(_ contains term))
        val c = BigInt(focus.size) - a
        val dd = BigInt(ref.size) - b
        val n = BigInt(focus.size + ref.size)
        val den = (a + b) * (c + dd) * (a + c) * (b + dd)
        val want =
          if (den == 0) None
          else Some((n * (a * dd - b * c) * (a * dd - b * c)).toDouble /
            den.toDouble)
        assert(got(term) == ((a.toLong, b.toLong, want)),
          s"term $term focus=$focus ref=$ref")
      }
    }
  }

  test("intervalCoverage = merged-interval union length") {
    val iv = Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 40L),
      Gen.choose(1L, 15L)).map { case (k, s, len) => (k, s, s + len) }
    samples(Gen.listOfN(12, iv), 8).foreach { ivs =>
      val got = graft.ops.Events.intervalCoverage(
        ivs.toDF("k", "s", "e"), "k", "s", "e")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      ivs.groupBy(_._1).foreach { case (k, g) =>
        // brute force: count covered integer points via half-open sets
        val covered = g.flatMap(iv => iv._2 until iv._3).toSet.size
        assert(got(k) == covered.toLong, s"key $k intervals $g")
      }
    }
  }

  test("prefixJaccardJoin = brute-force Jaccard over random corpora") {
    // Small vocab forces shared shingles (incl. high-df ones, the
    // case the (df, hash) canonical order is designed around).
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.choose(3, 9).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    def sh(t: String): Set[String] =
      if (t.split(" ").length >= 3)
        t.split(" ").sliding(3).map(_.mkString(" ")).toSet
      else Set.empty
    samples(Gen.listOfN(8, doc), 6).foreach { corpus =>
      val df = corpus.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      for (thr <- Seq(0.3, 0.6, 0.9)) {
        val got = graft.llmops.TextOps
          .prefixJaccardJoin(df, "doc_id", "text", thr)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = (for {
          i <- corpus.indices; j <- corpus.indices if i < j
          a = sh(corpus(i)); b = sh(corpus(j))
          if a.nonEmpty && b.nonEmpty
          jac = (a & b).size.toDouble / (a | b).size
          if jac >= thr
        } yield (i.toLong, j.toLong)).toSet
        assert(got == want, s"thr=$thr corpus=$corpus")
      }
    }
  }

  /** The mergePhedex.go recurrence in plain Scala, straight off
    * mergePhedex.go:293-320 + postProcess 211-224 — the independent
    * reference the SQL higher-order fold is checked against. */
  private def goFold(daySums: Seq[Long]): Long = {
    var a = 0L; var d = 1L; var last = daySums.head
    for (s <- daySums.tail) {
      a = if (d == 1) last else (a * d + last) / (d + 1)
      d += 1
      last = s
    }
    if (d == 1) last else (a * d + last) / (d + 1)
  }

  test("phedex merge fold == plain-Scala Go recurrence on random " +
    "day sequences, batch and incremental") {
    import graft.jobs.PhedexJobs
    val seqs = samples(
      Gen.choose(1, 9).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0L, 1000000L))), n = 12)
    // one key per generated sequence, days consecutive from 20240101
    val rows = seqs.zipWithIndex.flatMap { case (days, k) =>
      days.zipWithIndex.map { case (s, i) =>
        (20240101L + i, "S", s"/DS$k", s, 1L, Some(1L))
      }
    }
    val df = rows
      .toDF("date", "site", "dataset", "size", "replica_date", "groupid")
    val want = seqs.zipWithIndex.map { case (days, k) =>
      s"/DS$k" -> goFold(days)
    }.toMap
    // batch refold
    val batch = PhedexJobs.mergeSnapshots(df)
      .select("dataset", "ave_size", "days").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    seqs.zipWithIndex.foreach { case (days, k) =>
      assert(batch(s"/DS$k") == ((want(s"/DS$k"), days.size.toLong)),
        s"batch mismatch for $days")
    }
    // incremental day-by-day fold reaches the same state
    val dates = rows.map(_._1).distinct.sorted
    var state = PhedexJobs.mergeState(df.limit(0))
    for (dt <- dates)
      state = PhedexJobs.mergeDay(state, df.filter(col("date") === dt))
    val inc = PhedexJobs.finalizeMerged(state)
      .select("dataset", "ave_size").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inc == want.map { case (k, v) => k -> v })
  }

  test("count-min estimate dominates and bounds exact counts on " +
    "random corpora") {
    val corpora = samples(Gen.listOfN(200,
      Gen.choose(1, 40).map(i => s"w$i")), 4)
    corpora.foreach { terms =>
      val df = terms.toDF("term")
      val sketch = graft.llmops.Sketches.countMinBuild(df, "term", 4, 128)
      val exact = terms.groupBy(identity).map { case (t, g) =>
        (t, g.size.toLong)
      }.toSeq.toDF("term", "exact_n")
      val est = graft.llmops.Sketches
        .countMinEstimate(exact, "term", sketch, 4, 128)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      est.foreach { case (t, ex, cms) =>
        assert(cms >= ex, s"$t undercounted")
        // min over d rows can never exceed the total stream length
        assert(cms <= terms.length.toLong)
      }
    }
  }

  test("longestCommonRun = brute-force LCS over random token pairs") {
    val doc = Gen.listOfN(12, Gen.choose(1, 6).map(i => s"t$i"))
    val cases = samples(Gen.zip(doc, doc), 12)
      .filter { case (a, b) => a.size >= 3 && b.size >= 3 }
    def bruteLcs(a: Seq[String], b: Seq[String]): Int = {
      var best = 0
      for (i <- a.indices; j <- b.indices) {
        var k = 0
        while (i + k < a.size && j + k < b.size && a(i + k) == b(j + k))
          k += 1
        best = math.max(best, k)
      }
      best
    }
    cases.zipWithIndex.foreach { case ((a, b), idx) =>
      val docs = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")))
        .toDF("doc_id", "text")
      val got = TextOps.longestCommonRun(docs, "doc_id", "text",
        Seq((1L, 2L)).toDF("da", "db"), "da", "db")
        .collect().map(_.getLong(2)).headOption
      val want = bruteLcs(a, b)
      if (want >= 3) assert(got.contains(want.toLong),
        s"case $idx: got $got want $want for\n  $a\n  $b")
      // spans shorter than one shingle are invisible by construction
      else assert(got.isEmpty,
        s"case $idx: pair with max run $want must yield no row")
    }
  }

  test("KMV estimate is EXACT when k >= |union| (random corpora)") {
    // With the sketch cap above the union size, the k-minimum-values
    // sketch IS the full distinct set and the estimator degenerates to
    // exact Jaccard — a sharp correctness anchor for the estimator
    // plumbing (flags, union ranking, k_used denominators). Runs the
    // REGISTERED q168 end to end against brute-force set Jaccard.
    val docGen = Gen.listOfN(10, Gen.choose(1, 10).map(i => s"w$i"))
    val corpora = samples(Gen.listOfN(6, docGen), 6)
    corpora.zipWithIndex.foreach { case (docs, idx) =>
      val df = docs.zipWithIndex.map { case (toks, i) =>
        (i.toLong, toks.mkString(" "), s"src${i % 2}")
      }.toDF("doc_id", "text", "source")
      val dir = java.nio.file.Files
        .createTempDirectory(s"kmv$idx").toString
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def shingleSet(rows: Seq[Seq[String]]): Set[Seq[String]] =
        rows.flatMap(t => t.sliding(3).filter(_.size == 3).map(_.toSeq))
          .toSet
      val bySrc = docs.zipWithIndex.groupBy(_._2 % 2)
        .view.mapValues(v => shingleSet(v.map(_._1))).toMap
      val inter = (bySrc(0) intersect bySrc(1)).size
      val union = (bySrc(0) union bySrc(1)).size
      val rows = graft.SparkEntry
        .queries("q168_kmv_source_jaccard")(spark, dir).collect()
      if (union == 0) assert(rows.isEmpty, s"case $idx: expected empty")
      else {
        assert(rows.length == 1, s"case $idx: ${rows.length} pairs")
        val r = rows.head
        assert(r.getLong(2) == union.toLong,
          s"case $idx: k_used ${r.getLong(2)} != union $union")
        assert(r.getLong(3) == inter.toLong,
          s"case $idx: n_both ${r.getLong(3)} != inter $inter")
        assert(math.abs(r.getDouble(4) -
          inter.toDouble / union) < 1e-12, s"case $idx: est off")
      }
    }
  }

  test("quantile sample: merge law + brute-force sample quantiles " +
    "(random)") {
    // (1) bottom-k of a shard union == merge of per-shard sketches;
    // (2) the estimate equals the brute-force type-1 quantile of the
    // deterministic bottom-k-by-hash sample.
    val gen = Gen.listOfN(80,
      Gen.zip(Gen.choose(0, 2), Gen.choose(0L, 1000000L),
        Gen.choose(-100, 100)))
    samples(gen, 6).zipWithIndex.foreach { case (rows0, idx) =>
      // unique keys per row (reservoir semantics: one row per key)
      val rows = rows0.zipWithIndex.map { case ((g, _, v), i) =>
        (s"g$g", i.toLong, v.toDouble)
      }
      val df = rows.toDF("grp", "key", "v")
      val k = 16
      val sk = graft.llmops.Sketches
        .quantileSampleBuild(df, "grp", "key", "v", k)
      // merge law over a 2-way shard split
      val (sa, sb) = rows.partition(_._2 % 2 == 0)
      val merged = graft.llmops.Sketches.quantileSampleMerge(
        graft.llmops.Sketches.quantileSampleBuild(
          sa.toDF("grp", "key", "v"), "grp", "key", "v", k),
        graft.llmops.Sketches.quantileSampleBuild(
          sb.toDF("grp", "key", "v"), "grp", "key", "v", k),
        "grp", k)
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2))).sortBy(t => (t._1, t._2)).toSeq
      assert(canon(merged) == canon(sk), s"case $idx: merge law broken")
      // estimate == brute-force quantile of the same hash-min sample
      def h(key: Long): BigInt =
        BigInt(java.security.MessageDigest.getInstance("MD5")
          .digest(key.toString.getBytes)
          .take(8).map("%02x".format(_)).mkString.take(15), 16)
      val est = graft.llmops.Sketches.quantileSampleEstimate(
        sk, "grp", Seq("q50" -> 0.5, "q90" -> 0.9))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      rows.groupBy(_._1).foreach { case (g, grows) =>
        val sample = grows.sortBy(r => h(r._2)).take(k).map(_._3).sorted
        val n = sample.size
        def q(p: Double) = sample(math.ceil(p * n).toInt - 1)
        val (gotN, got50, got90) = est(g)
        assert(gotN == n.toLong, s"case $idx/$g: n $gotN != $n")
        assert(got50 == q(0.5), s"case $idx/$g: q50 $got50 != ${q(0.5)}")
        assert(got90 == q(0.9), s"case $idx/$g: q90 $got90 != ${q(0.9)}")
      }
    }
  }

  test("priority sample: exact when k >= group size; tau bounds the " +
    "sampled weights (random)") {
    val gen = Gen.listOfN(60, Gen.zip(Gen.choose(0, 1),
      Gen.choose(1L, 500L)))
    samples(gen, 6).zipWithIndex.foreach { case (rows0, idx) =>
      val rows = rows0.zipWithIndex.map { case ((g, wv), i) =>
        (s"g$g", i.toLong, wv)
      }
      val df = rows.toDF("grp", "key", "wgt")
      // k >= any group: tau = 0, sample = everything, estimator
      // degenerates to the exact sum (sums of small longs in doubles
      // are exact under 2^53)
      val exact = graft.llmops.Sketches
        .prioritySampleSummary(df, "grp", "key", "wgt", k = 100)
        .collect()
      exact.foreach { r =>
        assert(r.getDouble(3) == 0.0, s"case $idx: tau nonzero")
        assert(r.getDouble(6) == 0.0, s"case $idx: rel_err nonzero")
        assert(r.getDouble(4) == r.getLong(5).toDouble,
          s"case $idx: est != exact when unsampled")
      }
      // k < group size: k_used == k and the estimate is positive and
      // deterministic (re-run reproduces it bit-for-bit)
      val a = graft.llmops.Sketches
        .prioritySampleSummary(df, "grp", "key", "wgt", k = 8)
        .collect().map(r => (r.getString(0), r.getLong(2),
          r.getDouble(4))).sortBy(_._1).toSeq
      val b = graft.llmops.Sketches
        .prioritySampleSummary(df.repartition(7), "grp", "key", "wgt",
          k = 8)
        .collect().map(r => (r.getString(0), r.getLong(2),
          r.getDouble(4))).sortBy(_._1).toSeq
      assert(a == b, s"case $idx: sample not partition-invariant")
      a.foreach { case (g, kUsed, est) =>
        val n = rows.count(_._1 == g)
        if (n > 8) assert(kUsed == 8L, s"case $idx/$g")
        assert(est > 0.0)
      }
    }
  }

  test("waterfilling: budget-feasible, maximal, order-free (random)") {
    val tGen = Gen.listOfN(7, Gen.choose(1L, 2000L))
    samples(tGen, 15).zipWithIndex.foreach { case (ts, idx) =>
      val total = ts.sum
      val b = total / 2
      // reference implementation: integer binary search on the cap
      def filled(c: Long): Long = ts.map(math.min(_, c)).sum
      val docs = ts.zipWithIndex.map { case (t, i) =>
        (i.toLong, Seq.fill(t.toInt)("w").mkString(" "), s"s$i")
      }.toDF("doc_id", "text", "source")
      // run the registered query body against a temp view-less frame:
      // reuse CurationQueries' exact pipeline by writing to a temp dir
      val dir = java.nio.file.Files
        .createTempDirectory(s"wf$idx").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.SparkEntry
        .queries("q169_token_waterfill")(spark, dir)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
      val alloc = out.values.map(_._2).sum
      assert(alloc <= b, s"case $idx: allocation $alloc exceeds $b")
      // maximality: raising the implied cap by 1 must overshoot (when
      // anything was capped at all)
      val caps = out.values.filter(_._3).map(_._2)
      if (caps.nonEmpty) {
        val c = caps.head
        assert(caps.forall(_ == c), s"case $idx: non-uniform cap $caps")
        assert(filled(c + 1) > b,
          s"case $idx: cap $c not maximal (cap+1 still fits $b)")
      } else assert(alloc == math.min(total, filled(Long.MaxValue)),
        s"case $idx: uncapped but allocation $alloc != total")
    }
  }

  private val divWord = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
  private val divDoc = Gen.choose(1, 6)
    .flatMap(n => Gen.listOfN(n, divWord)).map(_.mkString(" "))
  private val divCorpus =
    Gen.listOfN(6, Gen.zip(Gen.oneOf("s0", "s1", "s2"), divDoc))

  test("tokenDiversity = brute force (counts, ttr, Gini-Simpson)") {
    samples(divCorpus, 4).foreach { rows =>
      val got = graft.llmops.CorpusDiversity
        .tokenDiversity(rows.toDF("source", "text"), "source", "text")
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
        .toMap
      rows.groupBy(_._1).foreach { case (src, rs) =>
        val toks = rs.flatMap(_._2.split(" "))
        val n = toks.size.toLong
        val counts = toks.groupBy(identity).map(_._2.size.toLong)
        val sumsq = counts.map(c => BigInt(c) * BigInt(c)).sum
        val (gn, gt, gttr, ggini) = got(src)
        assert(gn == n && gt == counts.size.toLong)
        assert(gttr == counts.size.toDouble / n.toDouble)
        assert(ggini == 1.0 - sumsq.toDouble / (n.toDouble * n.toDouble))
      }
    }
  }

  test("tvDistance = brute force; bounded [0,1]; 0 iff same mix") {
    samples(divCorpus, 4).foreach { rows =>
      val bySrc = rows.groupBy(_._1).map { case (s, rs) =>
        val toks = rs.flatMap(_._2.split(" "))
        s -> (toks.size.toLong,
          toks.groupBy(identity).map { case (t, xs) =>
            t -> xs.size.toLong
          })
      }
      val got = graft.llmops.CorpusDiversity
        .tvDistance(rows.toDF("source", "text"), "source", "text")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      val srcs = bySrc.keys.toSeq.sorted
      assert(got.size == srcs.combinations(2).size)
      for (Seq(sa, sb) <- srcs.combinations(2)) {
        val (ta, ca) = bySrc(sa)
        val (tb, cb) = bySrc(sb)
        val shared = ca.keySet.intersect(cb.keySet)
        val mdiff = shared.toSeq.map(t =>
          (BigInt(ca(t)) * tb - BigInt(cb(t)) * ta).abs).sum
        val num = mdiff +
          BigInt(ta - shared.toSeq.map(ca).sum) * tb +
          BigInt(tb - shared.toSeq.map(cb).sum) * ta
        val want = num.toDouble / (2.0 * ta.toDouble * tb.toDouble)
        val (gShared, gTv) = got((sa, sb))
        assert(gShared == shared.size.toLong)
        assert(gTv == want, s"pair ($sa,$sb)")
        assert(gTv >= 0.0 && gTv <= 1.0)
        if (ca == cb) assert(gTv == 0.0)
      }
    }
  }

  test("KMV merge law: merge of side sketches = sketch of the union") {
    val k = 4
    val item = Gen.zip(Gen.oneOf("g1", "g2"), Gen.choose(0L, 1000L))
    samples(Gen.zip(Gen.listOfN(10, item), Gen.listOfN(10, item)), 4)
      .foreach { case (xs, ys) =>
        val a = xs.toDF("g", "h")
        val b = ys.toDF("g", "h")
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        val merged = graft.llmops.Sketches.kmvMerge(
          graft.llmops.Sketches.kmvBuild(a, "g", "h", k),
          graft.llmops.Sketches.kmvBuild(b, "g", "h", k), "g", "h", k)
        val direct = graft.llmops.Sketches.kmvBuild(
          a.unionByName(b), "g", "h", k)
        assert(rows(merged) == rows(direct))
      }
  }

  test("Bloom merge law: OR of side filters = filter of the union; " +
    "idempotent") {
    val (m, h) = (256, 3)
    val key = Gen.choose(1, 200).map(i => s"k$i")
    samples(Gen.zip(Gen.listOfN(12, key), Gen.listOfN(12, key)), 4)
      .foreach { case (xs, ys) =>
        val a = xs.toDF("k"); val b = ys.toDF("k")
        def bits(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.getLong(0)).toSet
        val sa = graft.llmops.Sketches.bloomBuild(a, "k", m, h)
        val sb = graft.llmops.Sketches.bloomBuild(b, "k", m, h)
        val merged = graft.llmops.Sketches.bloomMerge(sa, sb)
        val direct = graft.llmops.Sketches
          .bloomBuild(a.unionByName(b), "k", m, h)
        assert(bits(merged) == bits(direct))
        // idempotence: OR-ing a side into itself changes nothing
        assert(bits(graft.llmops.Sketches.bloomMerge(sa, sa)) ==
          bits(sa))
      }
  }

  test("lmScoreFrozen ≡ lmScore: the frozen-model path is " +
    "bit-identical to the rebuild path") {
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val doc = Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    samples(Gen.zip(Gen.listOfN(6, doc), Gen.listOfN(3, doc)), 4)
      .foreach { case (corpus, refDocs) =>
        val docs = corpus.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val ref = refDocs.zipWithIndex
          .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
        val model = graft.llmops.LanguageModel
          .bigramModel(ref, "doc_id", "text")
        val v = graft.llmops.LanguageModel.refVocabSize(ref, "text")
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getDouble(3))).toSet
        val live = graft.llmops.LanguageModel
          .lmScore(docs, ref, "doc_id", "text")
        val frozen = graft.llmops.LanguageModel
          .lmScoreFrozen(docs, model, v, "doc_id", "text")
        assert(rows(live) == rows(frozen))
      }
  }

  test("kmvDistinctEstimate: exact below k, (k-1)*2^60/h_k at k") {
    val k = 3
    samples(Gen.listOfN(8, Gen.choose(0L, (1L << 60) - 1)), 4)
      .foreach { hs =>
        val df = hs.map(("g", _)).toDF("g", "h")
        val sketch = graft.llmops.Sketches.kmvBuild(df, "g", "h", k)
        val got = graft.llmops.Sketches
          .kmvDistinctEstimate(sketch, "g", "h", k)
          .collect().head
        val distinct = hs.distinct.sorted
        if (distinct.size < k)
          assert(got.getDouble(2) == distinct.size.toDouble)
        else {
          val hk = distinct(k - 1)
          assert(got.getLong(1) == k.toLong)
          assert(got.getDouble(2) ==
            (k - 1).toDouble * 1152921504606846976.0 / hk.toDouble)
        }
      }
  }

  test("coreTokenCoverage = brute force under the (gcnt,term) order") {
    val k = 2
    samples(divCorpus, 4).foreach { rows =>
      val global = rows.flatMap(_._2.split(" "))
        .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      val top = global.toSeq.sortBy { case (t, c) => (-c, t) }
        .take(k).map(_._1).toSet
      val got = graft.llmops.CorpusDiversity
        .coreTokenCoverage(rows.toDF("source", "text"),
          "source", "text", k = k)
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      rows.groupBy(_._1).foreach { case (src, rs) =>
        val toks = rs.flatMap(_._2.split(" "))
        val covered = toks.count(top).toLong
        val (gn, gc, gcov) = got(src)
        assert(gn == toks.size.toLong && gc == covered)
        assert(gcov == covered.toDouble / toks.size.toDouble)
      }
    }
  }

  // ---- curated-store content idempotence (Streams.curatedCommitIndexed)

  /** Small mixed-corpus batches for the store-invariance properties:
    * exact dups within and across batches, near-dups, plus docs the
    * frozen-LM gate rejects (cutoff = median score). */
  private def curatedBatches(seed: Int, nBatches: Int, perBatch: Int)
      : (Seq[Seq[(Long, String)]], org.apache.spark.sql.DataFrame,
        Long, Double) = {
    val rnd = new scala.util.Random(seed)
    def doc(): String =
      (1 to 8 + rnd.nextInt(4)).map(_ => s"w${rnd.nextInt(20)}")
        .mkString(" ")
    var id = 0L
    val produced = scala.collection.mutable.ArrayBuffer.empty[String]
    val batches = (0 until nBatches).map { _ =>
      (0 until perBatch).map { _ =>
        id += 1
        val r = rnd.nextInt(10)
        val text =
          if (r < 3 && produced.nonEmpty)
            produced(rnd.nextInt(produced.size))
          else if (r < 5 && produced.nonEmpty) {
            val base = produced(rnd.nextInt(produced.size)).split(" ")
            (base.dropRight(1) :+ s"w${rnd.nextInt(20)}").mkString(" ")
          } else { val t = doc(); produced += t; t }
        (id, text)
      }
    }
    val ref = (1 to 30).map(i => (5000L + i, doc())).toDF("id", "body")
    val model = graft.llmops.LanguageModel.bigramModel(ref, "id", "body")
    val v = graft.llmops.LanguageModel.refVocabSize(ref, "body")
    val cutoff = graft.llmops.LanguageModel
      .lmScoreFrozen(batches.flatten.toDF("id", "body"), model, v,
        "id", "body")
      .stat.approxQuantile("score", Array(0.5), 0.0).head
    (batches, model, v, cutoff)
  }

  private def storeContent(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, String)] =
    df.select("id", "body").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("curated stores are content-idempotent under redelivery: " +
    "random duplicate-batch schedules reproduce the clean store, " +
    "plain and indexed") {
    import graft.streaming.Streams
    val (batches, model, v, cutoff) = curatedBatches(7, 4, 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-prop-redeliver").toString
    def runIndexed(tag: String, schedule: Seq[Int]): Set[(Long, String)] = {
      val store = s"$dir/indexed-$tag"
      schedule.zipWithIndex.foreach { case (bi, pos) =>
        Streams.curatedCommitIndexed(batches(bi).toDF("id", "body"),
          pos.toLong, "id", "body", model, v, cutoff, store, 0.5, 9)
      }
      storeContent(Streams.curatedDocs(spark, store))
    }
    val clean = 0 until 4
    // the clean run against the recomputed-admission reference fold
    // (plain: no index, the corpus admitted so far held in memory)
    val cleanPlain = CuratedReference.admit(
      clean.map(batches(_).toDF("id", "body")), "id", "body", model, v,
      cutoff, 0.5, 9)
    val cleanIndexed = runIndexed("clean", clean)
    assert(cleanIndexed == cleanPlain)
    assert(cleanPlain.nonEmpty)
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      // duplicate deliveries injected at random positions AFTER the
      // original (at-least-once: a batch may re-arrive any time later)
      val schedule = clean.foldLeft(Vector.empty[Int]) { (acc, bi) =>
        val withB = acc :+ bi
        if (rnd.nextBoolean() && withB.size > 1) {
          val dup = withB(rnd.nextInt(withB.size))
          withB :+ dup
        } else withB
      } :+ rnd.nextInt(4) // and one final stale redelivery
      assert(runIndexed(s"t$trial", schedule) == cleanIndexed,
        s"indexed store diverged under schedule $schedule")
    }
  }

  test("curated store TEXT content is permutation-invariant when " +
    "cross-batch duplicates are exact (near-dup representatives are " +
    "first-arrival-wins by design)") {
    import graft.streaming.Streams
    // disjoint-vocabulary families: zero shingle overlap across
    // families, so the only cross-batch duplicates are exact copies
    val families = (0 until 10).map { f =>
      (0 until 10).map(i => s"f${f}_t$i").mkString(" ")
    }
    val rnd = new scala.util.Random(13)
    var id = 0L
    val batches = (0 until 4).map { _ =>
      (0 until 6).map { _ =>
        id += 1
        (id, families(rnd.nextInt(families.size)))
      }
    }
    val ref = Seq((9000L, families.head)).toDF("id", "body")
    val model = graft.llmops.LanguageModel.bigramModel(ref, "id", "body")
    val vz = graft.llmops.LanguageModel.refVocabSize(ref, "body")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-prop-permute").toString
    def run(tag: String, order: Seq[Int]): Set[String] = {
      val store = s"$dir/s-$tag"
      order.zipWithIndex.foreach { case (bi, pos) =>
        Streams.curatedCommitIndexed(batches(bi).toDF("id", "body"),
          pos.toLong, "id", "body", model, vz, 0.0, store, 0.5, 1000)
      }
      storeContent(Streams.curatedDocs(spark, store)).map(_._2)
    }
    val cleanTexts = run("clean", 0 until 4)
    assert(cleanTexts == batches.flatten.map(_._2).toSet)
    (1 to 3).foreach { trial =>
      val perm = rnd.shuffle((0 until 4).toList)
      assert(run(s"t$trial", perm) == cleanTexts,
        s"text content diverged under permutation $perm")
    }
  }

  test("maxCoverageSelect = driver-side greedy on random corpora " +
    "(trajectory, ties and early-exhaustion included)") {
    val rnd = new scala.util.Random(23)
    (1 to 3).foreach { trial =>
      val docs = (1L to (5 + rnd.nextInt(12)).toLong).map { i =>
        (i, (1 to 3 + rnd.nextInt(10))
          .map(_ => s"t${rnd.nextInt(12)}").mkString(" "))
      }
      val got = graft.llmops.CorpusDiversity
        .maxCoverageSelect(docs.toDF("doc_id", "text"),
          "doc_id", "text", k = 4)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      // reference: greedy over exact shingle sets
      def shingleSet(t: String): Set[String] = {
        val w = t.split(" ")
        (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
      }
      val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
      var covered = Set.empty[String]
      var chosen = Set.empty[Long]
      val want = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Long, Long, Long)]
      (1 to 4).foreach { r =>
        // a doc is pickable only while it still ADDS something — a
        // fully-covered doc has no uncovered postings, so the
        // operator's gain table has no row for it (gain >= 1 always)
        val gains = sets.view
          .filterKeys(!chosen(_)).mapValues(s => (s -- covered).size)
          .toSeq.filter { case (_, g) => g > 0 }
        if (gains.nonEmpty) {
          val (doc, g) = gains.minBy { case (id, g) => (-g, id) }
          covered ++= sets(doc); chosen += doc
          want += ((r, doc, g.toLong, covered.size.toLong))
        }
      }
      assert(got == want.toSeq, s"trial $trial: $got vs $want")
    }
  }

  test("Drift.ksByGroup: two-group symmetry, [0,1] bound, shift " +
    "invariance") {
    import graft.llmops.Drift
    val vals = samples(Gen.choose(0L, 30L), 60)
    def mk(off: Long) = vals.zipWithIndex.map { case (v, i) =>
      (if (i % 2 == 0) "a" else "b", v + off)
    }.toDF("g", "v")
    val got = Drift.ksByGroup(mk(0), "g", "v").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toMap
    assert(got.size == 2)
    val (na, ra, da, ka) = got("a")
    val (nb, rb, db, kb) = got("b")
    // with two groups, "rest of a" IS b: counts cross over and the
    // two-sided sup gap is the same statistic from either side
    assert(na == rb && nb == ra)
    assert(da == db && ka == kb)
    assert(da >= 0.0 && da <= 1.0)
    // D is invariant under a common shift (the value grid translates)
    val shifted = Drift.ksByGroup(mk(100), "g", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(shifted == got.map { case (k, v) => k -> v._3 })
  }

  test("Drift.binDrift: identical groups get identical drift; bounds") {
    import graft.llmops.Drift
    val bins = samples(Gen.choose(0L, 9L), 50)
    val df = (bins.map(("a", _)) ++ bins.map(("b", _))).toDF("g", "b")
    val got = Drift.binDrift(df, "g", "b", 10).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got("a") == got("b")) // same distribution ⇒ same drift
    assert(got("a")._1 >= 0.0)
    assert(got("a")._2 >= 0.0 && got("a")._2 <= 1.0)
  }

  test("Drift.conformalCoverage: τ monotone in the keep rate; " +
    "coverage bounded") {
    import graft.llmops.Drift
    val scores = samples(Gen.choose(0, 1000), 200).map(_ / 1000.0)
    val df = scores.zipWithIndex.map { case (s, i) =>
      (i.toLong, "g", s)
    }.toDF("id", "grp", "score")
    def one(num: Int) = Drift.conformalCoverage(df, "id", "grp",
      "score", 1000, 4, num, 10).collect().head
    val (t8, t9) = (one(8), one(9))
    if (!t8.isNullAt(1) && !t9.isNullAt(1))
      assert(t9.getLong(1) >= t8.getLong(1))
    assert(t9.getDouble(5) >= 0.0 && t9.getDouble(5) <= 1.0)
  }

  test("Drift.medianShiftBhFdr: invariant under input row order") {
    import graft.llmops.Drift
    val vals = samples(Gen.choose(0L, 50L), 80)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (s"s${i % 3}", s"l${i % 2}", i.toLong, v)
    }
    def run(rs: Seq[(String, String, Long, Long)]) =
      Drift.medianShiftBhFdr(rs.toDF("src", "lng", "doc_id", "v"),
          Seq("src", "lng"), "doc_id", "v", 20, 0.1)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val fwd = run(rows)
    assert(run(rows.reverse) == fwd)
    assert(run(rows.sortBy(_._4)) == fwd)
  }

  test("containedDropList = brute-force drop rule on random corpora " +
    "with planted quotes and exact twins") {
    val word: Gen[String] = Gen.choose(0, 29).map(i => s"w$i")
    val docGen: Gen[Seq[String]] =
      Gen.choose(6, 20).flatMap(n => Gen.listOfN(n, word))
    (1 to 4).foreach { round =>
      val bases = samples(docGen, 12).zipWithIndex.map {
        case (ws, i) => (i.toLong, ws)
      }
      // plant: quotes (slices of base docs), one exact twin
      val quotes = bases.take(4).zipWithIndex.map { case ((_, ws), j) =>
        val len = math.max(5, ws.length - 2 - j)
        (100L + j, ws.take(len))
      }
      val twin = Seq((200L, bases.head._2))
      val docs = (bases ++ quotes ++ twin)
        .map { case (id, ws) => (id, ws.mkString(" ")) }
      // brute force, on shingle STRINGS (hash60 is injective here)
      def sh(t: String): Set[String] = {
        val w = t.split(" ")
        if (w.length < 3) Set.empty
        else w.sliding(3).map(_.mkString(" ")).toSet
      }
      val keepers = docs.groupBy(_._2).values.map(_.map(_._1).min).toSet
      val kdocs = docs.filter(d => keepers(d._1))
      val sets = kdocs.map { case (id, t) => id -> sh(t) }.toMap
      val elig = sets.filter(_._2.size >= 5)
      val edges = for {
        (x, sx) <- elig.toSeq; (y, sy) <- elig.toSeq
        if x != y && (sx & sy).size.toDouble / sx.size >= 0.9
      } yield (x, y)
      val eset = edges.toSet
      val drops = edges
        .filter { case (x, y) => !eset((y, x)) || x > y }
        .groupBy(_._1).map { case (x, es) => x -> es.size.toLong }
      val expected = kdocs.map { case (id, _) =>
        (id, drops.getOrElse(id, 0L), !drops.contains(id))
      }.toSet
      val got = TextOps
        .containedDropList(docs.toDF("doc_id", "text"), "doc_id",
          "text")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
      assert(got == expected, s"round $round")
    }
  }

  test("contaminationCurve = brute-force per-n overlap on random " +
    "corpora with planted eval slices") {
    val word: Gen[String] = Gen.choose(0, 29).map(i => s"w$i")
    val docGen: Gen[Seq[String]] =
      Gen.choose(4, 18).flatMap(n => Gen.listOfN(n, word))
    val ns = Seq(3, 5, 8, 13)
    (1 to 3).foreach { round =>
      val evalDocs = samples(docGen, 2).zipWithIndex.map {
        case (ws, i) => (900L + i, ws, "src0")
      }
      val train0 = samples(docGen, 10).zipWithIndex.map {
        case (ws, i) => (i.toLong, ws, "src1")
      }
      // plant eval slices of varying width into some train docs
      val planted = train0.take(3).zipWithIndex.map {
        case ((id, ws, s), j) =>
          val src = evalDocs(j % evalDocs.size)._2
          val slice = src.take(math.max(3, src.length - 2 * j))
          (id + 500L, ws.take(3) ++ slice ++ ws.drop(3), s)
      }
      val all = train0 ++ planted ++ evalDocs
      def grams(ws: Seq[String], n: Int): Set[String] =
        if (ws.length < n) Set.empty
        else ws.sliding(n).map(_.mkString(" ")).toSet
      val expected = ns.map { n =>
        val esh = evalDocs.flatMap(d => grams(d._2, n)).toSet
        val tr = (train0 ++ planted).map(d => grams(d._2, n))
          .filter(_.nonEmpty)
        val nc = tr.count(s => (s & esh).nonEmpty).toLong
        (n, esh.size.toLong, tr.size.toLong, nc,
          if (tr.nonEmpty) nc.toDouble / tr.size else 0.0)
      }.filter(_._3 > 0L).toSet
      val df = all.map { case (id, ws, s) => (id, ws.mkString(" "), s) }
        .toDF("doc_id", "text", "source")
      val got = TextOps
        .contaminationCurve(df.filter(col("source") =!= "src0"),
          df.filter(col("source") === "src0"), "doc_id", "text", ns)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))
        .toSet
      assert(got == expected, s"round $round")
    }
  }

  test("canonicalUrl is IDEMPOTENT over generated URL decorations — " +
    "a canonical form re-canonicalizes to itself") {
    val scheme = Gen.oneOf("", "http://", "https://", "HTTPS://",
      "ftp://")
    // stacked www. labels exercise the (www\.)+ strip — a single-label
    // strip is not idempotent on www.www.host (r12 ADVICE)
    val www = Gen.oneOf("", "www.", "WWW.", "www.www.", "WWW.www.")
    val host = Gen.zip(token, Gen.oneOf("org", "com", "NET"))
      .map { case (h, tld) => s"$h.$tld" }
    val port = Gen.oneOf("", ":80", ":443", ":8080")
    // path segments may carry percent escapes (both hex cases and a
    // malformed one) and doubled separators
    val seg = Gen.oneOf(token, token.map(_ + "%2f"),
      token.map(_ + "%2F"), token.map("%3a" + _), token.map(_ + "%zz"))
    val sep = Gen.oneOf("/", "//", "///")
    val path = Gen.oneOf(Gen.const(""),
      Gen.listOf(Gen.zip(sep, seg)).map(ps =>
        "/" + ps.map { case (a, b) => a + b }.mkString))
    val param: Gen[String] = Gen.zip(
      Gen.oneOf(token, token.map("utm_" + _)),
      Gen.oneOf(token, token.map(_ + "%2f"), token.map(_ + "%2F")))
      .map { case (k, v) => s"$k=$v" }
    val query = Gen.oneOf(Gen.const(""),
      Gen.nonEmptyListOf(param).map(ps => "?" + ps.mkString("&")))
    val frag = Gen.oneOf(Gen.const(""), token.map("#" + _))
    val url = for {
      s <- scheme; w <- www; h <- host; pt <- port; p <- path;
      q <- query; f <- frag
    } yield s"$s$w$h$pt$p$q$f"
    val urls = samples(url, 60)
    val once = urls.toDF("u")
      .select(TextOps.canonicalUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).toSeq
    val twice = once.toDF("c")
      .select(TextOps.canonicalUrl(col("c")).as("c2"))
      .collect().map(_.getString(0)).toSeq
    once.zip(twice).zip(urls).foreach { case ((a, b), raw) =>
      assert(a == b, s"not idempotent for $raw: $a -> $b")
      assert(!a.contains("#") && !a.toLowerCase.startsWith("http"),
        s"decoration survived for $raw: $a")
      assert(!a.contains("utm_"), s"tracking param survived: $a")
    }
  }

  test("bpeEncodeTokens segmentation is LOSSLESS: pieces concatenate " +
    "back to the token under any generated merge table") {
    val word: Gen[String] = Gen.choose(1, 10)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')))
      .map(_.mkString)
    val mergeTable: Gen[Seq[(String, String)]] = Gen.choose(0, 4)
      .flatMap { k =>
        // merges over single chars and their concatenations — the
        // realistic shape (later merges reference earlier outputs)
        val sym = Gen.oneOf("a", "b", "c", "ab", "bc", "aa", "cc")
        Gen.listOfN(k, Gen.zip(sym, sym))
      }
    (1 to 12).foreach { round =>
      val words = samples(word, 20).distinct
      val merges = samples(mergeTable, 1).head
      val got = graft.llmops.Tokenize
        .bpeEncodeTokens(words.toDF("tok"), merges)
        .collect()
        .map(r => (r.getString(0), r.getSeq[String](2).toSeq,
          r.getLong(3), r.getLong(4)))
      got.foreach { case (tok, pieces, nPieces, nUnk) =>
        assert(pieces.mkString == tok,
          s"round $round: lossy for '$tok' under $merges: $pieces")
        assert(nPieces == pieces.size && nUnk == 0L)
        assert(nPieces >= 1L && nPieces <= tok.length.toLong)
      }
    }
  }
}
