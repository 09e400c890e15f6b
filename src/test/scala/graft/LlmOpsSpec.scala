package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llmops.{LanguageModel, Multimodal, Similarity, Sketches, TextOps}

/** Unit tests for the training-data-pipeline operators: shingling,
  * MinHash/LSH, SimHash, similarity search, text analysis, multimodal
  * plumbing. Value-level parity is enforced by the DuckDB oracle gate;
  * these specs pin the semantic invariants. */
class LlmOpsSpec extends AnyFunSuite {

  lazy val spark = graft.core.Sessions.local(4, "graft-llm-test")
  import spark.implicits._

  test("shingles: n-grams in order, short docs yield empty array") {
    val df = Seq("a b c d", "a b").toDF("text")
    val got = df.select(TextOps.shingles($"text").as("s"))
      .collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1).isEmpty)
  }

  test("hash60 is non-negative, deterministic, 60-bit") {
    val got = Seq("x", "x", "y").toDF("s")
      .select(TextOps.hash60($"s")).collect().map(_.getLong(0))
    assert(got(0) == got(1))
    assert(got(0) != got(2))
    assert(got.forall(h => h >= 0 && h < (1L << 60)))
  }

  test("minhash: identical docs get identical signatures") {
    val df = Seq((1L, "w1 w2 w3 w4 w5"), (2L, "w1 w2 w3 w4 w5"),
      (3L, "z1 z2 z3 z4 z5")).toDF("doc_id", "text")
    val sigs = TextOps.minhashSignatures(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(sigs(0).toSeq.tail == sigs(1).toSeq.tail)
    assert(sigs(0).toSeq.tail != sigs(2).toSeq.tail)
  }

  test("lsh candidates: identical docs pair up, unrelated don't") {
    val df = Seq((1L, "w1 w2 w3 w4 w5"), (2L, "w1 w2 w3 w4 w5"),
      (3L, "z1 z2 z3 z4 z5")).toDF("doc_id", "text")
    val pairs = TextOps.lshCandidatePairs(
      TextOps.minhashSignatures(df, "doc_id", "text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("exactDedupFirst: a byte-identical flood collapses to its " +
    "min-id keeper BEFORE banding — candidates stay near-dup-only") {
    val flood = (1L to 300L).map(i => (i, "w1 w2 w3 w4 w5 w6 w7 w8"))
    val near = Seq(
      (1001L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"),
      (1002L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 zz"))
    val docs = (flood ++ near).toDF("doc_id", "text")
    val kept = TextOps.exactDedupFirst(docs, "doc_id", "text")
    // one keeper (min id) for the flood + the two distinct docs
    assert(kept.count() == 3L)
    assert(kept.filter(col("doc_id") <= 300L)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    val pairs = TextOps.lshCandidatePairs(
      TextOps.minhashSignatures(kept, "doc_id", "text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the genuine near-dup pair survives; no flood-member pair exists
    assert(pairs.contains((1001L, 1002L)))
    assert(!pairs.exists(p => p._1 <= 300L || p._2 <= 300L))
    // contrast: the unguarded route pays quadratic (capped) pair mass
    val unguarded = TextOps.lshCandidatePairs(
      TextOps.minhashSignatures(docs, "doc_id", "text"), "doc_id")
      .count()
    assert(unguarded >= 256L * 255L / 2L)
  }

  test("lsh degenerate bucket: maxBucket caps pairs, keeps connectivity") {
    // adversarial fixture: 1k byte-identical docs → one bucket per band
    val df = (1L to 1000L).map(i => (i, "w1 w2 w3 w4 w5"))
      .toDF("doc_id", "text")
    val sigs = TextOps.minhashSignatures(df, "doc_id", "text")
    val pairs = TextOps.lshCandidatePairs(sigs, "doc_id", maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // head: C(10,2) all-pairs; tail: 990 star pairs to the minimum —
    // linear in bucket size instead of C(1000,2) = 499,500
    assert(pairs.length == 45 + 990)
    // connectivity: every doc reachable from doc 1
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seen = scala.collection.mutable.Set(1L)
    val stack = scala.collection.mutable.Stack(1L)
    while (stack.nonEmpty) {
      adj.getOrElse(stack.pop(), Set.empty).foreach { n =>
        if (seen.add(n)) stack.push(n)
      }
    }
    assert(seen.size == 1000)
    // under-cap buckets are unaffected by the cap
    val small = TextOps.lshCandidatePairs(
      TextOps.minhashSignatures(
        Seq((1L, "w1 w2 w3 w4 w5"), (2L, "w1 w2 w3 w4 w5"))
          .toDF("doc_id", "text"), "doc_id", "text"),
      "doc_id", maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(small.toSeq == Seq((1L, 2L)))
  }

  test("ngramJaccardPairs: df cap drops hot shingles conservatively") {
    // 4 docs share shingle-set overlap; "x y z" appears in all 4
    val df = Seq(
      (1L, "x y z a b c"), (2L, "x y z a b d"),
      (3L, "x y z e f g"), (4L, "x y z e f h")).toDF("doc_id", "text")
    // no cap: every pair shares at least the hot "x y z" shingle
    val full = TextOps.ngramJaccardPairs(df, "doc_id", "text",
      minJac = 0.01, maxDf = 1000).collect()
    assert(full.length == 6)
    // df cap 3 drops the shingle shared by all 4 docs; only pairs with
    // additional overlap survive, and their jac only shrinks
    val capped = TextOps.ngramJaccardPairs(df, "doc_id", "text",
      minJac = 0.01, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L), (3L, 4L)))
  }

  test("minhashContainment: containment of a quoted doc = 1 where " +
    "Jaccard understates it; containedDropList drops the quote") {
    // A is fully quoted inside B (every A-shingle ∈ B): J = 10/12
    // but C(A⊆B) = 1. The fixture keeps the overlap high because the
    // calibration view's candidates come from the near-dup banding;
    // the low-J quote regime is containedDropList's exact index
    // (asserted at the end). C and D are identical → dedup-first
    // collapses D before banding.
    val quote = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu" // 12 tokens → 10 shingles
    val df = Seq(
      (1L, quote),
      (2L, quote + " nu xi"), // 14 tokens → 12 shingles
      (3L, "one two three four"),
      (4L, "one two three four")).toDF("doc_id", "text")
    val rows = TextOps.minhashContainment(df, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    // the (1,2) quote pair must surface (identical min over shared
    // mass wins at least one of the 4 bands here — deterministic)
    val q = rows.get((1L, 2L)).orElse(rows.get((2L, 1L)))
    assert(q.isDefined, s"quote pair missing: ${rows.keySet}")
    val r = q.get
    val (na, nb) = (r.getLong(3), r.getLong(4))
    val common = r.getLong(5)
    assert(na == 10L && nb == 12L && common == 10L) // A ⊂ B exactly
    val contAB = r.getDouble(8)
    val contBA = r.getDouble(9)
    assert(contAB == 1.0 && contBA == 10.0 / 12.0)
    // estimate columns are the exact algebraic inversion of Ĵ
    val jac = r.getDouble(2)
    assert(r.getDouble(6) == jac * (na + nb) / ((1.0 + jac) * na))
    assert(r.getDouble(7) == jac * (na + nb) / ((1.0 + jac) * nb))
    // exact-dedup-first: doc 4 never appears in any pair
    assert(!rows.keySet.exists(p => p._1 == 4L || p._2 == 4L))

    // the drop rule over the same corpus: the quoted doc 1 is
    // dropped (contained in the larger doc 2), the container and the
    // unrelated keeper survive, the exact twin 4 is already collapsed
    val keep = TextOps.containedDropList(df, "doc_id", "text")
      .collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getBoolean(2))))
      .toMap
    assert(keep.keySet == Set(1L, 2L, 3L))
    assert(keep(1L) == ((1L, false)))
    assert(keep(2L) == ((0L, true)) && keep(3L) == ((0L, true)))
  }

  test("simhash: equal docs equal, hamming-near for near docs") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "a b c d e f g x")).toDF("doc_id", "text")
    val got = TextOps.simhash16(df, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(got(0) == got(1))
    val hamming = java.lang.Long.bitCount(got(0) ^ got(2))
    assert(hamming <= 8, s"near-dup hamming distance $hamming too large")
    assert(got.forall(h => h >= 0 && h < (1 << 16)))
  }

  test("simhash60: 60-bit range, near-dups pair, distinct docs don't") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val got = TextOps.simhash60(df, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(got(0) == got(1) && got(0) != got(2))
    assert(got.forall(h => h >= 0 && h < (1L << 60)))
    val pairs = TextOps.simhashNearDupPairs(df, "doc_id", "text",
      maxHamming = 1, nBits = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // identical docs: hamming 0; the unrelated doc pairs with nobody
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("cosine: orthogonal → 0, identical → 1 (unrounded, to 1e-12)") {
    val df = Seq(
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(1f, 2f), Array(1f, 2f)),
      (Array(1f, 0f), Array(-1f, 0f))).toDF("a", "b")
    val got = df.select(Similarity.cosine($"a", $"b"))
      .collect().map(_.getDouble(0))
    got.zip(Seq(0.0, 1.0, -1.0)).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-12, s"$g vs $e")
    }
  }

  test("bruteForceTopK ranks by cosine desc and excludes self") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(1f, 0.01f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", 2)
      .orderBy("rk").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(3L, 1L))
    assert(top.forall(_.getLong(1) != 0L))
  }

  test("twoStageTopK: exact when pool spans corpus; prefix prefilter " +
    "can only drop, never reorder, the reranked top-k") {
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 3)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val brute = key(Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", 4))
    // m = full corpus → stage 1 drops nothing → identical to brute force
    val exact = key(Similarity.twoStageTopK(
      q, vecs, "vec_id", "embedding", dPrefix = 4, m = 40, k = 4))
    assert(exact == brute)
    // tight pool: every returned hit still ranks by the FULL cosine,
    // so any candidate the two-stage shares with brute force must sit
    // at the same-or-better rank (prefix filtering drops, never swaps)
    val tight = Similarity.twoStageTopK(
        q, vecs, "vec_id", "embedding", dPrefix = 4, m = 8, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    val bruteRk = brute.map { case ((qid, rk), cid) => (qid, cid) -> rk }
    tight.foreach { case ((qid, cid), rk) =>
      bruteRk.get((qid, cid)).foreach(brk => assert(rk <= brk,
        s"two-stage rank $rk worse than brute $brk for ($qid,$cid)"))
    }
  }

  test("lshBucket: same vector same bucket, bounded by 2^nBits") {
    val vecs = Seq(Array.fill(64)(0.5f), Array.fill(64)(0.5f),
      Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f)).toDF("v")
    val got = vecs.select(Similarity.lshBucket($"v", 8, 64))
      .collect().map(_.getLong(0))
    assert(got(0) == got(1))
    assert(got.forall(b => b >= 0 && b < 256))
  }

  test("sampleFrames: min(k, n_frames) frames on the even grid, " +
    "frame_fp hashes the frame's actual bytes") {
    val docs = Seq((1L, "x" * 10, "s", 10L), (2L, "y" * 49, "s", 49L))
      .toDF("doc_id", "text", "source", "n_chars")
    val got = Multimodal.sampleFrames(spark, docs, 4)
      .orderBy("doc_id", "sample_j").collect()
    // doc 1: 10 bytes → n_frames = 11, s = 4 → idx 0,2,5,8
    val d1 = got.filter(_.getLong(0) == 1L)
    assert(d1.map(_.getInt(3)).toSeq == Seq(0, 2, 5, 8))
    // doc 2: 49 bytes → n_frames = 2, s = 2 → idx 0,1 (k caps at n)
    val d2 = got.filter(_.getLong(0) == 2L)
    assert(d2.map(_.getInt(3)).toSeq == Seq(0, 1))
    got.foreach { r =>
      assert(r.getInt(3) >= 0 && r.getInt(3) < r.getInt(1))
      assert(r.getLong(4) >= 0L) // fingerprint present
    }
    // frame_fp is the 60-bit md5 of the frame bytes' UPPERCASE hex:
    // doc 2 frame 0 covers bytes [0, 49·1 div 2) = 24 × 'y'
    val hexChunk = "79" * 24
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = java.lang.Long.parseLong(
      md.digest(hexChunk.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
    assert(d2.head.getLong(4) == expected)
  }

  test("sampleFrames: a parsed container with ZERO frames yields no " +
    "sample rows (no descending-sequence garbage)") {
    // printable-ASCII text whose bytes parse as a canonical WAV header
    // (RIFF....WAVE, blockAlign = 0x2020 at offset 32) with a data
    // section shorter than one frame → n_frames = 0
    val wavish = "RIFF1234WAVEfmt " + ("~" * 28)
    assert(wavish.length == 44)
    assert(graft.llmops.Multimodal.parseHeader(
      wavish.getBytes("UTF-8")).contains(("audio", 0x7e7e, 1, 0)))
    val docs = Seq((7L, wavish, "s", 44L))
      .toDF("doc_id", "text", "source", "n_chars")
    assert(Multimodal.sampleFrames(spark, docs, 4).count() == 0L)
  }

  test("longestCommonRun: exact shared-span length in tokens") {
    val docs = Seq(
      (1L, "a b c d e x y z"),       // shares "a b c d e" with 2
      (2L, "q r a b c d e s t"),
      (3L, "u v w a b c"),           // shares "a b c" with 1 and 2
      (4L, "m n o p q1 q2 q3 q4")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
      .toDF("da", "db")
    val got = TextOps.longestCommonRun(docs, "doc_id", "text",
      pairs, "da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // (1,2): run of 3 consecutive shingles "a b c","b c d","c d e" → 5
    assert(got((1L, 2L)) == 5L)
    assert(got((1L, 3L)) == 3L && got((2L, 3L)) == 3L)
    // no shared shingle at all → pair absent, not zero
    assert(!got.contains((1L, 4L)))
    // self-repetition alignment: doc 5 repeats the span; best single
    // contiguous alignment against doc 6 is still the 4-token span
    val rep = Seq((5L, "a b c d a b c d"), (6L, "a b c d z z z"))
      .toDF("doc_id", "text")
    val g2 = TextOps.longestCommonRun(rep, "doc_id", "text",
      Seq((5L, 6L)).toDF("da", "db"), "da", "db").head().getLong(2)
    assert(g2 == 4L)
  }

  test("count-min sketch: never undercounts, exact when collision-free, " +
    "bounded size") {
    val terms = (1 to 50).flatMap(i => Seq.fill(i)(s"t$i")).toDF("term")
    val sketch = Sketches.countMinBuild(terms, "term", d = 4, w = 256)
    assert(sketch.count() <= 4L * 256)
    val probes = (1 to 50).map(i => (s"t$i", i.toLong))
      .toDF("term", "exact_n")
    val est = Sketches.countMinEstimate(probes, "term", sketch, 4, 256)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
    est.foreach { case (t, (exact, cms)) =>
      assert(cms >= exact, s"$t undercounted: $cms < $exact")
    }
    // 50 distinct terms into 256 buckets per row, min over 4 rows:
    // a term overestimates only if it collides in ALL rows — with
    // these md5 buckets that never happens at this density, so the
    // estimate is exact (a broken min() or hash would surface here)
    assert(est.forall { case (_, (exact, cms)) => cms == exact })
    // unseen terms: min over 4 buckets of residual mass — must not
    // exceed the heaviest counter, and an all-empty row path gives 0
    val unseen = Seq(("zzz_never", 0L)).toDF("term", "exact_n")
    val u = Sketches.countMinEstimate(unseen, "term", sketch, 4, 256)
      .head().getLong(2)
    assert(u >= 0L && u <= 50L)
  }

  test("bloom join audit: no false negatives, saturation drives fp up") {
    val build = (1L to 100L).map(i => i * 7).toDF("bk")
    val probe = (1L to 2000L).toDF("pk")
    val a = Sketches.bloomJoinAudit(build, probe, "bk", "pk",
      m = 8192, h = 3).head()
    val nTrue = probe.join(build, col("pk") === col("bk"), "left_semi")
      .count()
    // every true match must pass (the Bloom guarantee) ...
    assert(a.getAs[Long]("n_true") == nTrue)
    assert(a.getAs[Long]("n_pass") >= a.getAs[Long]("n_true"))
    assert(a.getAs[Long]("n_false_pos") ==
      a.getAs[Long]("n_pass") - a.getAs[Long]("n_true"))
    // ... and a saturated filter (tiny m) passes nearly everything
    val sat = Sketches.bloomJoinAudit(build, probe, "bk", "pk",
      m = 16, h = 3).head()
    assert(sat.getAs[Long]("n_pass") > a.getAs[Long]("n_pass"))
  }

  test("langId picks the dominant stopword language") {
    val df = Seq("the cat is in the hat", "el gato es un gato",
      "der hund ist ein hund", "xyzzy plugh").toDF("text")
    val got = df.select(TextOps.langId($"text")).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "es", "de", "und"))
  }

  test("quality columns: counts and bounded score") {
    val r = Seq("the quick brown fox").toDF("text")
      .select(TextOps.qualityColumns($"text"): _*).head()
    assert(r.getInt(0) == 4)
    assert(r.getDouble(1) == 4.0) // (19-3)/4
    assert(r.getDouble(2) == 0.25) // "the" of 4 tokens
    val score = r.getDouble(3)
    assert(score > 0 && score <= 1.0)
  }

  test("bpeish token count splits runs and punctuation") {
    val got = Seq("ab12 cd!").toDF("text")
      .select(TextOps.bpeishTokenCount($"text")).head().getInt(0)
    assert(got == 4) // ab | 12 | cd | !
  }

  test("fingerprint: content-determined, distinct for disjoint content") {
    // min over shared 5-grams can legitimately coincide for overlapping
    // strings — assert distinctness only for fully disjoint content
    val df = Seq("abcdefgh", "abcdefgh", "zzyyxxwwvv").toDF("text")
    val got = df.select(TextOps.fingerprint($"text"))
      .collect().map(_.getLong(0))
    assert(got(0) == got(1))
    assert(got(0) != got(2))
  }

  test("chunkWindows: stride, overlap, tail chunk, fingerprints") {
    val df = Seq((1L, (1 to 60).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextOps.chunkWindows(df, "doc_id", "text",
      chunk = 32, overlap = 8).orderBy("chunk_idx").collect()
    // 60 tokens, stride 24 → starts 1, 25, 49 → sizes 32, 32, 12
    assert(got.map(_.getInt(2)).toSeq == Seq(32, 32, 12))
    assert(got.map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    // overlap: chunk 1 starts at token 25 ⇒ last 8 of chunk 0 overlap
    assert(got.map(_.getLong(3)).distinct.length == 3)
  }

  test("piiScrub counts and redacts emails and digit runs") {
    val df = Seq((1L, "mail a.b@x.org and 123 456"), (2L, "clean text"))
      .toDF("doc_id", "text")
    val got = TextOps.piiScrub(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got(0).getInt(1) == 1 && got(0).getInt(2) == 2)
    // "mail <EMAIL> and <NUM> <NUM>" = 28 chars
    assert(got(0).getInt(3) == 28)
    assert(got(1).getInt(1) == 0 && got(1).getInt(2) == 0)
  }

  test("simhashNearDupPairs: identical docs pair at hamming 0, " +
    "unrelated don't") {
    val df = Seq((1L, "w1 w2 w3 w4 w5"), (2L, "w1 w2 w3 w4 w5"),
      (3L, "z9 z8 z7 z6 z5 q4 q3 q2")).toDF("doc_id", "text")
    val got = TextOps.simhashNearDupPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq((1L, 2L, 0)))
  }

  test("repetitionMetrics: dup-token and top-bigram fractions") {
    val df = Seq(
      (1L, "a a a a"),        // all dup; top bigram "a a" = 3/3
      (2L, "a b c d"),        // no dup; each bigram once = 1/3
      (3L, "x")).toDF("doc_id", "text") // single token, no bigrams
    val got = TextOps.repetitionMetrics(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got(0).getDouble(1) == 0.75 && got(0).getDouble(2) == 1.0)
    assert(got(1).getDouble(1) == 0.0
      && math.abs(got(1).getDouble(2) - 1.0 / 3) < 1e-15)
    assert(got(2).getDouble(1) == 0.0 && got(2).getDouble(2) == 0.0)
  }

  test("keepListBy survives the highest-priority cluster member") {
    // cluster {1,2,3} linked by pairs; doc 2 has the best quality
    val all = Seq((1L, 0.5), (2L, 0.9), (3L, 0.1), (4L, 0.7))
      .toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = graft.llmops.DedupClusters
      .keepListBy(all, "doc_id", "quality", pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true))
  }

  test("percentileGate drops exactly the bottom fraction per group") {
    // group a: 10 docs scored 0..9 → pr = rank/9; pr >= 0.2 keeps
    // scores 2..9 (8 docs). group b: single doc → pr = 0/0 = 0, but
    // singleton groups are always kept (a tail language must not lose
    // its only document to the gate).
    val df = ((0 until 10).map(i => ("a", i.toLong, i.toLong)) :+
      (("b", 99L, 42L))).toDF("g", "score", "id")
    val kept = TextOps.percentileGate(df, "g", "score", "id", 0.2)
      .select("g", "score").as[(String, Long)].collect().toSet
    assert(kept == ((2 to 9).map(i => ("a", i.toLong)).toSet + (("b", 99L))))
  }

  test("segmentDedup removes repeated segments at later occurrences " +
    "and reassembles in order") {
    val boiler = (1 to 16).map(i => s"b$i").mkString(" ")
    val uniq1 = (1 to 16).map(i => s"u$i").mkString(" ")
    val uniq2 = (1 to 16).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler $uniq1"), // first occurrence of boiler: kept
      (2L, s"$boiler $uniq2"), // boiler dropped, uniq2 kept
      (3L, boiler)) // entirely boilerplate: rebuilt = ""
      .toDF("doc_id", "text")
    val got = TextOps.segmentDedup(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got(0).getLong(1) == 2 && got(0).getLong(2) == 2)
    assert(got(1).getLong(1) == 2 && got(1).getLong(2) == 1)
    assert(got(2).getLong(1) == 1 && got(2).getLong(2) == 0)
    // doc 3 rebuilt empty: md5 of ""
    assert(got(2).getString(4) == "d41d8cd98f00b204e9800998ecf8427e"
      && got(2).getLong(3) == 0L)
    // doc 2's rebuilt == just its unique segment
    val expectMd5 = docs.sparkSession.sql(
      s"SELECT md5('$uniq2')").head.getString(0)
    assert(got(1).getString(4) == expectMd5)
  }

  test("sqrt mixture weights: normalized, sqrt-law, deterministic") {
    val df = (Seq.fill(16)("big") ++ Seq.fill(4)("mid") ++ Seq("tiny"))
      .toDF("lang")
    val w = graft.llmops.Mixture.sqrtMixtureWeights(df, "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(w("big")._2 == 4.0 && w("mid")._2 == 2.0 && w("tiny")._2 == 1.0)
    assert(math.abs(w.values.map(_._3).sum - 1.0) < 1e-12)
    // sqrt-law: 16x the docs gets only 4x the weight
    assert(math.abs(w("big")._3 / w("tiny")._3 - 4.0) < 1e-12)
  }

  test("components uses reliable checkpoints when a checkpoint dir " +
    "is configured") {
    // a 14-node chain has diameter 13, forcing components() past the
    // every-6th-round lineage checkpoint — with a checkpoint dir set,
    // those rounds must go through the FAULT-TOLERANT checkpoint()
    // path (files under the dir), not executor-local blocks
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
      .toString
    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pairs = (0L until 13L).map(i => (i, i + 1)).toDF("a", "b")
      val comp = graft.llmops.DedupClusters
        .components(pairs, "a", "b", maxIters = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(comp.length == 14 && comp.forall(_._2 == 0L))
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty,
        "expected RDD checkpoint files under the checkpoint dir")
    } finally prev match {
      case Some(p) => spark.sparkContext.setCheckpointDir(p)
      case None => // SparkContext has no unset; leave the temp dir
    }
  }

  test("components shortcut: a 64-node path converges inside the " +
    "default round budget where plain min-label is loudly split") {
    import spark.implicits._
    // diameter 63 — plain propagation needs 63 rounds; pointer
    // jumping roughly doubles the reach per round
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val plain = graft.llmops.DedupClusters
      .components(pairs, "a", "b") // maxIters = 10 → split (warned)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain.values.exists(_ != 0L), "10 rounds cannot close d=63")
    val jumped = graft.llmops.DedupClusters
      .components(pairs, "a", "b", shortcut = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(jumped.size == 64 && jumped.values.forall(_ == 0L))
  }

  test("components keeps the plan behind its result bounded in both " +
    "modes, whatever probeAfter is") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // the 64-node path: neither mode converges within the rounds tried
    // in the loop, so every run returns the labels of its last round
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case j: Join => j }.size
    // a round re-reads the previous round's labels `fanIn` times and
    // adds `own` joins; a checkpoint truncates the plan every `every`
    // rounds, so at most `every - 1` rounds stand behind a result:
    // plain (x2, +2, every 6) holds <= 62 joins, shortcut (x4, +5,
    // every 3) <= 25
    def bound(fanIn: Int, own: Int, every: Int): Int =
      (1 until every).foldLeft(0)((j, _) => own + fanIn * j)
    for ((shortcut, probeAfter, maxIters) <- Seq((false, 2, 5),
        (false, 2, 11), (false, 8, 11), (true, 2, 2), (true, 2, 5),
        (true, 4, 5))) {
      val comp = graft.llmops.DedupClusters.components(pairs, "a", "b",
        maxIters = maxIters, probeAfter = probeAfter, shortcut = shortcut)
      val limit = if (shortcut) bound(4, 5, 3) else bound(2, 2, 6)
      assert(joins(comp) <= limit, s"shortcut=$shortcut " +
        s"probeAfter=$probeAfter maxIters=$maxIters: ${joins(comp)} joins")
    }
    // a probeAfter above the shortcut cadence still checkpoints, and
    // the path still closes inside the default round budget
    val jumped = graft.llmops.DedupClusters
      .components(pairs, "a", "b", probeAfter = 4, shortcut = true)
    assert(joins(jumped) <= bound(4, 5, 3))
    val labels = jumped.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 64 && labels.forall(_._2 == 0L))
  }

  test("llmops operators are total on empty inputs") {
    val docs = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.ngramJaccardPairs(docs, "doc_id", "text").count() == 0)
    val sigs = TextOps.minhashSignatures(docs, "doc_id", "text")
    assert(sigs.count() == 0)
    assert(TextOps.lshCandidatePairs(sigs, "doc_id").count() == 0)
    assert(TextOps.simhash16(docs, "doc_id", "text").count() == 0)
    val pairs = spark.emptyDataset[(Long, Long)].toDF("a", "b")
    assert(graft.llmops.DedupClusters
      .components(pairs, "a", "b").count() == 0)
    // keepList over empty pairs keeps every doc
    val all = Seq((1L, "x")).toDF("doc_id", "text")
    val kept = graft.llmops.DedupClusters
      .keepList(all, "doc_id", pairs, "a", "b").collect()
    assert(kept.length == 1 && kept(0).getBoolean(2))
  }

  test("kmeans: assignment picks nearest centroid, update averages " +
    "members per dimension") {
    val e = Seq(
      (0L, Array(0f, 0f)), (1L, Array(10f, 10f)),
      (2L, Array(1f, 1f)), (3L, Array(9f, 9f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(0f, 0f)), (1L, Array(10f, 10f)))
      .toDF("cell", "cvec")
    val assigned = Similarity.kmeansAssign(e, "vec_id", "embedding",
      cents, "cell", "cvec")
    val got = assigned.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L))
    val means = Similarity.kmeansUpdate(assigned, e, "vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(means == Map(
      (0L, 1) -> 0.5, (0L, 2) -> 0.5, (1L, 1) -> 9.5, (1L, 2) -> 9.5))
  }

  test("multimodal: payload bytes survive packing; fallback is total") {
    val docs = Seq((1L, "hello", "s0", 5L), (2L, "worlds!", "s1", 7L))
      .toDF("doc_id", "text", "source", "n_chars")
    val media = Multimodal.packAsMedia(docs).collect().sortBy(_.doc_id)
    assert(new String(media(0).payload, "UTF-8") == "hello")
    val feats = Multimodal.decodeFeatures(Multimodal.packAsMedia(docs))
      .collect().sortBy(_.doc_id)
    assert(feats(0).n_bytes == 5 && feats(1).n_bytes == 7)
    assert(feats(0).source == "s0" && feats(1).source == "s1")
    assert(feats(0).media_kind == "audio" && feats(1).media_kind == "audio")
    assert(feats.forall(f => f.width >= 16 && f.n_frames >= 1))
  }

  test("multimodal header parser: PNG/BMP/JPEG/GIF/WAV magics and dimensions") {
    // PNG: signature + IHDR length/type + width=640 height=480 (BE)
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 2, 0x80, 0, 0, 1, 0xe0).map(_.toByte)
    assert(Multimodal.parseHeader(png).contains(("image", 640, 480, 1)))
    // BMP: 'BM' + BITMAPINFOHEADER width=320 at 18, height=200 at 22 (LE)
    val bmp = new Array[Byte](26)
    bmp(0) = 'B'; bmp(1) = 'M'
    bmp(18) = 0x40; bmp(19) = 0x01 // 320
    bmp(22) = 0xc8.toByte          // 200
    assert(Multimodal.parseHeader(bmp).contains(("image", 320, 200, 1)))
    // WAV: canonical 44-byte header, stereo 16-bit → blockAlign 4;
    // 44 + 40 payload bytes = 10 frames
    val wav = new Array[Byte](84)
    "RIFF".getBytes.copyToArray(wav, 0)
    "WAVE".getBytes.copyToArray(wav, 8)
    wav(22) = 2 // channels
    wav(32) = 4 // blockAlign
    assert(Multimodal.parseHeader(wav).contains(("audio", 2, 1, 10)))
    // JPEG: SOI + APP0 (skipped by its BE length) + SOF0 with
    // height=600 at payload offset 3, width=800 at 5 (both BE)
    val jpg = Array[Int](0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x04, 0x00, 0x00, // APP0, len 4
      0xff, 0xc0, 0x00, 0x11, 0x08, 0x02, 0x58, 0x03, 0x20)
      .map(_.toByte)
    assert(Multimodal.parseHeader(jpg).contains(("image", 800, 600, 1)))
    // truncated JPEG (SOS before any SOF) → None, walk terminates
    val jpgBad = Array[Int](0xff, 0xd8, 0xff, 0xda, 0x00, 0x02)
      .map(_.toByte)
    assert(Multimodal.parseHeader(jpgBad).isEmpty)
    // 0xFF fill bytes before a marker are legal padding — the walk
    // must consume them, not treat 0xFF as a length-skipped marker
    val jpgFill = Array[Int](0xff, 0xd8,
      0xff, 0xff, 0xff, 0xc0, 0x00, 0x11, 0x08, 0x02, 0x58, 0x03, 0x20)
      .map(_.toByte)
    assert(Multimodal.parseHeader(jpgFill).contains(("image", 800, 600, 1)))
    // GIF89a: logical screen 128x64 (LE at 6/8)
    val gif = new Array[Byte](13)
    "GIF89a".getBytes.copyToArray(gif, 0)
    gif(6) = 0x80.toByte; gif(8) = 0x40
    assert(Multimodal.parseHeader(gif).contains(("image", 128, 64, 1)))
    // unknown magic → None (fallback path)
    assert(Multimodal.parseHeader("plain text".getBytes).isEmpty)
    // real-container payloads flow through the Dataset pipeline too
    val media = Seq(
      Multimodal.MediaRecord(1L, png, "cam", 0L),
      Multimodal.MediaRecord(2L, wav, "mic", 0L)).toDS()
    val feats = Multimodal.decodeFeatures(media).collect().sortBy(_.doc_id)
    assert(feats(0).media_kind == "image" && feats(0).width == 640)
    assert(feats(1).media_kind == "audio" && feats(1).n_frames == 10)
  }

  test("chunkFrequencyFilter drops EVERY copy of corpus-common chunks") {
    // 2-token chunks, maxDf = 1: "x y" lives in docs 1 AND 2 — both
    // copies must go (vs segmentDedup, which would keep the first)
    val df = Seq((1L, "x y a b"), (2L, "x y c d"), (3L, "e f"))
      .toDF("doc_id", "text")
    val got = TextOps
      .chunkFrequencyFilter(df, "doc_id", "text", segTokens = 2,
        maxDf = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((2L, 1L, 0.5)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((1L, 1L, 1.0)))
    // the rebuilt doc keeps surviving chunks in original order
    val md5s = TextOps
      .chunkFrequencyFilter(df, "doc_id", "text", segTokens = 2,
        maxDf = 1)
      .filter(col("doc_id") === 1L).head.getString(4)
    val expected = Seq("a b").toDF("t")
      .select(md5(col("t"))).head.getString(0)
    assert(md5s == expected)
  }

  test("bm25TopK: rarity and term frequency rank as expected") {
    val docs = Seq(
      (1L, "apple apple apple"),
      (2L, "apple banana"),
      (3L, "cherry date fig grape kiwi lemon")).toDF("doc_id", "text")
    val qs = Seq((0, "apple"), (1, "cherry")).toDF("query_id", "term")
    val got = graft.llmops.Retrieval
      .bm25TopK(docs, qs, "doc_id", "text", "query_id", "term", k = 2)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(3)))
    // query 0: the tf-heavy short doc outranks the single-hit doc;
    // doc 3 (no 'apple') never appears
    assert(got.filter(_._1 == 0).sortBy(_._3).map(_._2).toSeq
      == Seq(1L, 2L))
    // query 1: only doc 3 contains 'cherry'
    assert(got.filter(_._1 == 1).map(_._2).toSeq == Seq(3L))
  }

  test("mixtureSample: deterministic, rate-capped, reproducible") {
    val df = (0L until 100L).map(i => (i, if (i < 80) "big" else "sm"))
      .toDF("doc_id", "src")
    // factor large enough that the small group saturates at rate 1.0:
    // every 'sm' doc must survive
    val s1 = graft.llmops.Mixture
      .mixtureSample(df, "src", "doc_id", factor = 3.0)
    assert(s1.filter(col("src") === "sm").count() == 20L)
    // reproducible: two independent runs draw the identical sample
    val ids1 = s1.select("doc_id").as[Long].collect().sorted.toSeq
    val ids2 = graft.llmops.Mixture
      .mixtureSample(df, "src", "doc_id", factor = 3.0)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2)
    // factor 0 → threshold 0 → empty sample
    assert(graft.llmops.Mixture
      .mixtureSample(df, "src", "doc_id", factor = 0.0).count() == 0L)
  }

  test("epochUpsample: integer weights copy exactly, fraction adds " +
      "at most one") {
    // one group: weight = 1 → epochs = scale exactly
    val df = (0L until 10L).map(i => (i, "g")).toDF("doc_id", "src")
    val up = graft.llmops.Mixture
      .epochUpsample(df, "src", "doc_id", scale = 2.0)
    assert(up.count() == 20L)
    assert(up.groupBy("doc_id").count()
      .filter(col("count") =!= 2L).count() == 0L)
    // copy indices are 0..n_copies-1
    assert(up.filter(col("doc_id") === 0L)
      .select("copy").as[Long].collect().sorted.toSeq == Seq(0L, 1L))
  }

  test("groupKSample: exactly k per group (or the whole small group), " +
      "reproducible") {
    val df = (0L until 60L).map(i => (i, if (i < 50) "big" else "sm"))
      .toDF("doc_id", "grp")
    val s1 = graft.llmops.Mixture.groupKSample(df, "grp", "doc_id", 20)
    val byGrp = s1.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp == Map("big" -> 20L, "sm" -> 10L))
    assert(s1.agg(max("rk")).head.getInt(0) <= 20)
    val s2 = graft.llmops.Mixture.groupKSample(df, "grp", "doc_id", 20)
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq
      == s2.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("vocabOovRate: boundary cut is a total order; rates exact") {
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // vocabSize 1: 'a' (count 2) and 'b' (count 2) tie — 'a' wins on
    // the term tie-break
    val got = TextOps.vocabOovRate(df, "doc_id", "text", vocabSize = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((3L, 1L, 1.0 / 3.0)))
    assert(got(2L) == ((2L, 2L, 1.0)))
  }

  test("prefixJaccardJoin == uncapped inverted-index join (lossless)") {
    // near-dup pair (1,2), exact-dup pair (3,4), unrelated 5; doc 6
    // shares only STOPWORD-ish shingles with everyone (high df) —
    // prefix filtering must still consider it where needed and the
    // exact verify must then reject it.
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"$base iota"), (2L, s"$base kappa"),
      (3L, "one two three four five six"),
      (4L, "one two three four five six"),
      (5L, "totally different words here entirely now"),
      (6L, s"alpha beta gamma unrelated tail words"))
      .toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    for (t <- Seq(0.5, 0.8)) {
      val fast = TextOps.prefixJaccardJoin(docs, "doc_id", "text", t)
        .collect().map(key).toSet
      val brute = TextOps.ngramJaccardPairs(docs, "doc_id", "text",
        minJac = t, maxDf = Int.MaxValue).collect().map(key).toSet
      assert(fast == brute, s"threshold $t")
      assert(fast.map(p => (p._1, p._2)).contains((3L, 4L)))
    }
  }

  test("chiSquareKeyness: exclusive term maxes, shared term scores 0") {
    // focus: both docs have 'x'; reference: neither does; 'c' appears
    // in ONE doc per side -> perfectly balanced, chi2 exactly 0. A
    // term present in EVERY doc of both corpora has zero margin
    // (c+d = 0) and is NULL by design — the oracle agrees.
    val focus = Seq((1L, "x c"), (2L, "x")).toDF("doc_id", "text")
    val ref = Seq((3L, "y c"), (4L, "y")).toDF("doc_id", "text")
    val got = TextOps.chiSquareKeyness(focus, ref, "doc_id", "text", 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    // exclusive terms: a=2,b=0,c=0,d=2 -> chi2 = 4*(4)^2/(2*2*2*2) = 4
    assert(got("x") == ((2L, 0L, 4.0)))
    assert(got("y") == ((0L, 2L, 4.0)))
    assert(got("c") == ((1L, 1L, 0.0)))
  }

  test("bigramCounts: pair counts, continuation mass, conditional p") {
    val df = Seq("a b", "a b", "a c", "z").toDF("text")
    val got = TextOps.bigramCounts(df, "text", minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(("a", "b")) == ((2L, 3L, 2.0 / 3.0)))
    assert(got(("a", "c")) == ((1L, 3L, 1.0 / 3.0)))
    assert(got.size == 2) // single-token doc contributes no bigram
  }

  test("dispersionIndex: 0 for constant counts, exact for bursty") {
    val df = Seq(
      ("flat", 5L), ("flat", 5L), ("flat", 5L),
      ("burst", 1L), ("burst", 1L), ("burst", 10L),
      ("zero", 0L), ("zero", 0L))
      .toDF("k", "c")
    val got = graft.ops.Aggregates.dispersionIndex(df, "k", "c")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got("flat") == Some(0.0))
    // n=3 s1=12 s2=102: (306-144)/36 = 4.5
    assert(got("burst") == Some(4.5))
    assert(got("zero") == None)
  }

  test("arrayShingles: generic arrays, matches shingles on tokens") {
    val df = Seq("a b c d e", "x y", "").toDF("text")
    val both = df.select(
      TextOps.shingles($"text", 2).as("s"),
      TextOps.arrayShingles(TextOps.tokens($"text"), 2).as("a"))
      .collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    val bi = both(0).getSeq[String](0)
    assert(bi == Seq("a b", "b c", "c d", "d e"))
  }

  test("tfidfCosinePairs: clones hit cos 1, disjoint docs absent") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6"), // exact clone of 1
      (3L, "z1 z2 z3 z4 z5 z6"), // disjoint vocabulary
      (4L, "w1 w2 w3 q4 q5 q6")) // shares a prefix shingle with 1/2
      .toDF("doc_id", "text")
    val got = graft.llmops.SparseSim
      .tfidfCosinePairs(df, "doc_id", "text", minCos = 0.0, maxDf = 100)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(got((1L, 2L)) - 1.0) < 1e-12)
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // partial overlap scores strictly between 0 and the clone pair
    assert(got((1L, 4L)) > 0.0 && got((1L, 4L)) < 0.99)
    // symmetry of the construction: (2,4) must equal (1,4) exactly
    assert(got((2L, 4L)) == got((1L, 4L)))
  }

  test("pageRank: ranks sum to 1, hub of a star outranks leaves") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
      .toDF("da", "db")
    val pr = graft.llmops.GraphRank.pageRank(pairs, "da", "db",
      iters = 3, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    assert(pr(1L) > pr(2L) * 2)
    // leaves are symmetric — identical ranks, bit for bit
    assert(pr(2L) == pr(3L) && pr(3L) == pr(4L) && pr(4L) == pr(5L))
  }

  test("pageRank: two disjoint edges stay uniform at 1/n") {
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("da", "db")
    val pr = graft.llmops.GraphRank.pageRank(pairs, "da", "db",
      iters = 3, damping = 0.85)
      .collect().map(r => r.getDouble(1))
    assert(pr.length == 4)
    pr.foreach(v => assert(math.abs(v - 0.25) < 1e-12))
  }

  test("incrementalAdmissions: exact dup, near dup, and fresh doc") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different text about spark physical plans"))
      .toDF("doc_id", "text")
    val inc = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // exact
      (11L, "the quick brown fox jumps over the lazy dog tonight"), // near
      (12L, "zebra yak xylophone walrus vulture unicorn tiger"), // fresh
      (13L, "zebra yak xylophone walrus vulture unicorn tiger")) // dup of 12
      .toDF("doc_id", "text")
    val got = TextOps.incrementalAdmissions(base, inc, "doc_id", "text",
      minJac = 0.5, maxDf = 1000)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(got(10L)._1, "exact dup must set drop_exact")
    assert(got(10L)._2, "an exact dup is also a near dup")
    assert(!got(10L)._3)
    assert(!got(11L)._1 && got(11L)._2 && !got(11L)._3)
    assert(got(12L) == ((false, false, true)))
    // within-batch duplicates are out of scope by contract: 13 is a
    // copy of 12 but neither matches the BASE, so both are admitted
    assert(got(13L) == ((false, false, true)))
  }

  test("incrementalAdmissions: empty batch and empty base are total") {
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val none = docs.filter(col("doc_id") < 0)
    assert(TextOps.incrementalAdmissions(docs, none,
      "doc_id", "text").count() == 0L)
    val vsEmpty = TextOps.incrementalAdmissions(none, docs,
      "doc_id", "text").collect()
    assert(vsEmpty.length == 1 && vsEmpty(0).getBoolean(3))
  }

  test("curriculumOrder round-robins sources rank by rank") {
    val df = Seq(
      ("s1", 1L, 0.9), ("s1", 2L, 0.5), ("s1", 3L, 0.1),
      ("s2", 4L, 0.8), ("s2", 5L, 0.7),
      ("s3", 6L, 0.3)).toDF("source", "doc_id", "score")
    val got = graft.llmops.Mixture
      .curriculumOrder(df, "source", "doc_id", "score", topK = 10)
      .orderBy("position").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // rank 1 of each source first (source order), then rank 2, ...
    assert(got.toSeq == Seq(1L -> 1L, 2L -> 4L, 3L -> 6L,
      4L -> 2L, 5L -> 5L, 6L -> 3L))
  }

  test("repeatGramMax: overlap counting, largest-n wins, no-repeat zero") {
    val df = Seq(
      (1L, "a b c a b c a b"), // 5-gram "a b c a b" at pos 1 and 4
      (2L, "x x x x"),         // overlapping trigram "x x x" at 1 and 2
      (3L, "p q r s t"),       // no repeats at any n
      (4L, "m"),               // single token
      (5L, "u v u w u")        // only the unigram "u" repeats (3×)
    ).toDF("doc_id", "text")
    val got = TextOps.repeatGramMax(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 5L, 2L), (2L, 3L, 2L), (3L, 0L, 0L),
      (4L, 0L, 0L), (5L, 1L, 3L)))
  }

  test("dupSpans: island merging, disjoint spans, zero for unique docs") {
    val df = Seq(
      (1L, "a b c d e f"),          // shares "a b c","b c d" → one span
      (2L, "x y a b c d z"),        // same grams at p2,p3 → one span
      (3L, "q r s"),                // nothing shared
      (4L, "a b c q q q b c d")     // shared at p0 and p6 → two spans
    ).toDF("doc_id", "text")
    val got = TextOps.dupSpans(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == Seq((1L, 6L, 1L, 4L), (2L, 7L, 1L, 4L),
      (3L, 3L, 0L, 0L), (4L, 9L, 2L, 6L)))
  }

  test("removeDupSpans: rewrites covered spans out, keeps order") {
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d z"),
      (3L, "q r s"),
      (4L, "a b c q q q b c d")
    ).toDF("doc_id", "text")
    val got = TextOps.removeDupSpans(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq
    assert(got == Seq((1L, 4L, "e f"), (2L, 4L, "x y z"),
      (3L, 0L, "q r s"), (4L, 6L, "q q q")))
  }

  test("dupSpans and removeDupSpans agree on covered mass (sf0.001)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val spans = TextOps.dupSpans(docs, "doc_id", "text")
      .select(col("doc_id"), col("covered_tokens"))
    val rewritten = TextOps.removeDupSpans(docs, "doc_id", "text")
    // the islands' covered token mass IS the removed-position count,
    // and the rebuilt text holds exactly the survivors
    val joined = spans.join(rewritten, Seq("doc_id")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("covered_tokens") == r.getAs[Long]("n_removed"))
      val kept = r.getAs[String]("text_deduped")
      val keptCount =
        if (kept.isEmpty) 0L else kept.split(" ").length.toLong
      assert(keptCount ==
        r.getAs[Long]("n_tokens") - r.getAs[Long]("n_removed"))
    }
  }

  test("waterfall grid marginalizes to the global funnel (sf0.001)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val global = TextOps.filterWaterfall(docs, "doc_id", "text")
      .orderBy("rule_idx").collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3)))
    val summed = TextOps.filterWaterfallBy(docs, "doc_id", "text", "source")
      .groupBy(col("rule_idx"))
      .agg(sum(col("n_dropped")).as("d"), sum(col("n_surviving")).as("s"))
      .orderBy("rule_idx").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(global.toSeq == summed.toSeq)
  }

  test("filterWaterfall: funnel counts are consistent and ordered") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = TextOps.filterWaterfall(docs, "doc_id", "text")
      .orderBy("rule_idx").collect()
    assert(rows.length == 5)
    val total = docs.count()
    // survivors after rule 1 = total - dropped at rule 1; each later
    // survivor count = previous survivors - dropped there
    var surv = total
    rows.foreach { r =>
      surv -= r.getLong(2)
      assert(r.getLong(3) == surv)
    }
  }

  test("LanguageModel.bigramModel: Laplace probabilities from exact counts") {
    import spark.implicits._
    val ref = Seq((1L, "a b a b c"), (2L, "a b")).toDF("doc_id", "text")
    // bigrams: d1 = (a,b),(b,a),(a,b),(b,c); d2 = (a,b)
    // counts: (a,b)=3, (b,a)=1, (b,c)=1; prefixes: a=3, b=2; V=3
    val m = LanguageModel.bigramModel(ref, "doc_id", "text")
      .orderBy("w1", "w2").collect()
    assert(m.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq(("a", "b", 3L), ("b", "a", 1L), ("b", "c", 1L)))
    val ab = m.head
    assert(ab.getLong(3) == 3L && ab.getDouble(4) == 4.0 / 6.0)
    val ba = m(1)
    assert(ba.getLong(3) == 2L && ba.getDouble(4) == 2.0 / 5.0)
  }

  test("LanguageModel.lmScore: smoothing, OOV fallback, short-doc drop") {
    import spark.implicits._
    val ref = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "a b c"),   // (a,b) seen c=2; (b,c) seen c=1
      (11L, "x y"),     // unseen prefix -> uniform 1/V
      (12L, "solo")     // no bigrams -> dropped
    ).toDF("doc_id", "text")
    // ref counts: (a,b)=2,(b,a)=1,(b,c)=1; prefix a=2, b=2; V=3
    val got = LanguageModel.lmScore(docs, ref, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got.length == 2)
    val d10 = got(0)
    assert(d10.getLong(1) == 2 && d10.getLong(2) == 0)
    // p(a,b)=(2+1)/(2+3)=0.6; p(b,c)=(1+1)/(2+3)=0.4; mean=0.5
    assert(d10.getDouble(3) == ((0.0 + 3.0 / 5.0) + 2.0 / 5.0) / 2.0)
    val d11 = got(1)
    assert(d11.getLong(1) == 1 && d11.getLong(2) == 1)
    assert(d11.getDouble(3) == 1.0 / 3.0) // (0+1)/(0+V)
  }

  test("LanguageModel.lmScore: empty reference scores 0.0, never NaN") {
    import spark.implicits._
    val ref = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val got = LanguageModel.lmScore(docs, ref, "doc_id", "text").collect()
    assert(got.length == 1 && got(0).getDouble(3) == 0.0)
  }

  test("LanguageModel.dsirWeights: target-like docs weigh above 1") {
    import spark.implicits._
    val target = Seq((1L, "good words only good words")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "good words only good words"),
      (2L, "junk junk junk junk junk")).toDF("doc_id", "text")
    val got = LanguageModel.dsirWeights(docs, target, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got.length == 2)
    assert(got(0).getLong(1) == 5 && got(1).getLong(1) == 5)
    // doc 1's features dominate the target -> ratio > 1; doc 2's
    // features are absent from the target -> ratio < 1
    assert(got(0).getDouble(2) > 1.0)
    assert(got(1).getDouble(2) < 1.0)
  }

  test("Mixture.ipfWeights: fitted marginals converge to uniform in " +
    "both dimensions") {
    import spark.implicits._
    // skewed 2x3 contingency: raw source shares 6/9 vs 3/9, raw lang
    // shares 3/9, 4/9, 2/9 — raking must pull BOTH to uniform
    val rows =
      Seq.fill(2)(("s1", "en")) ++ Seq.fill(3)(("s1", "de")) ++
        Seq.fill(1)(("s1", "fr")) ++ Seq.fill(1)(("s2", "en")) ++
        Seq.fill(1)(("s2", "de")) ++ Seq.fill(1)(("s2", "fr"))
    val got = graft.llmops.Mixture
      .ipfWeights(rows.toDF("source", "lang"), "source", "lang",
        iters = 5)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(4)))
      .toMap
    assert(got.size == 6 && got.values.forall(_ > 0.0))
    def marg(f: ((String, String)) => String, key: String) =
      got.collect { case (k, v) if f(k) == key => v }.sum
    Seq("s1", "s2").foreach { s =>
      assert(math.abs(marg(_._1, s) - 0.5) < 0.01, s"source $s")
    }
    Seq("en", "de", "fr").foreach { l =>
      assert(math.abs(marg(_._2, l) - 1.0 / 3) < 0.01, s"lang $l")
    }
    // total mass is conserved: shares sum to 1
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("Similarity.mmrTopK: near-dup of the top pick is deferred " +
    "behind the diverse candidate") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(0.9f, 0.1f)),   // most relevant
      (2L, Array(0.9f, 0.1f)),   // its exact twin — plain top-k rank 2
      (3L, Array(0.5f, -0.5f))   // diverse, lower relevance
    ).toDF("vec_id", "embedding")
    val queries = Seq((100L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.llmops.Similarity
      .mmrTopK(queries, corpus, "vec_id", "embedding", k = 3,
        poolSize = 3, lambda = 0.5)
      .orderBy("step").collect()
      .map(r => (r.getInt(2), r.getLong(1)))
    // plain relevance order is (1, 2, 3); MMR at λ=0.5 defers the
    // twin (sim 1.0 to the selected leader) behind the diverse vector
    assert(got.map(_._1).toSeq == Seq(1, 2, 3))
    assert(got(0)._2 == 1L)
    assert(got(1)._2 == 3L)
    assert(got(2)._2 == 2L)
  }

  test("DedupClusters.clusterSafeSplit: twins never straddle the " +
    "split; dup-free corpus equals the per-doc split") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "t")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("da", "db")
    val got = graft.llmops.DedupClusters
      .clusterSafeSplit(docs, "doc_id", pairs, "da", "db")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // whole clusters share one side — including the transitive chain
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(10L) == got(11L))
    assert(got.values.toSet.subsetOf(Set("train", "val", "test")))
    // no pairs -> every doc keys on itself -> bit-identical to the
    // per-doc hash split
    val empty = Seq.empty[(Long, Long)].toDF("da", "db")
    val solo = graft.llmops.DedupClusters
      .clusterSafeSplit(docs, "doc_id", empty, "da", "db")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val perDoc = graft.llmops.Mixture.trainSplit(docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(solo == perDoc)
  }

  test("Retrieval.rm3Expansion: feedback terms surface, original " +
    "terms survive, matchless queries vanish") {
    import spark.implicits._
    val docs = Seq(
      (1L, "needle haystack haystack gold"),
      (2L, "needle gold gold silver"),
      (3L, "unrelated words entirely here")).toDF("doc_id", "text")
    val queries = Seq((0, "needle"), (1, "absent"))
      .toDF("query_id", "term")
    val got = graft.llmops.Retrieval
      .rm3Expansion(docs, queries, "doc_id", "text", "query_id",
        "term", fbDocs = 2, fbTerms = 10)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2),
        r.getInt(3)))
    // query 1 matched nothing -> no feedback -> no rows
    assert(got.forall(_._1 == 0))
    val byTerm = got.map(r => r._2 -> r._3).toMap
    // the original term gets the interpolated floor 0.5·(1/1) plus
    // its relevance-model mass -> it tops the expansion
    assert(got.find(_._4 == 1).map(_._2).contains("needle"))
    assert(byTerm("needle") > 0.5)
    // 'gold' rides both feedback docs; 'silver' only the lighter one
    assert(byTerm("gold") > byTerm("silver"))
    // nothing from outside the feedback slice leaks in
    assert(!byTerm.contains("unrelated"))
    // duplicate (query, term) input rows are deduped up front —
    // identical output, no double-counted nq, no duplicate rk rows
    val dupQueries = Seq((0, "needle"), (0, "needle"), (1, "absent"))
      .toDF("query_id", "term")
    val dup = graft.llmops.Retrieval
      .rm3Expansion(docs, dupQueries, "doc_id", "text", "query_id",
        "term", fbDocs = 2, fbTerms = 10)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2),
        r.getInt(3)))
    assert(dup.sortBy(r => (r._1, r._4)).toSeq ==
      got.sortBy(r => (r._1, r._4)).toSeq)
  }

  test("Mixture.ipfWeightsToTargets: explicit marginals hit; " +
    "untargeted keys rake to zero") {
    import spark.implicits._
    val rows =
      Seq.fill(2)(("s1", "en")) ++ Seq.fill(3)(("s1", "de")) ++
        Seq.fill(1)(("s1", "fr")) ++ Seq.fill(1)(("s2", "en")) ++
        Seq.fill(1)(("s2", "de")) ++ Seq.fill(1)(("s2", "fr"))
    val got = graft.llmops.Mixture
      .ipfWeightsToTargets(rows.toDF("source", "lang"), "source",
        "lang", Seq("s1" -> 0.7, "s2" -> 0.3),
        // fr deliberately absent — outside the target mix
        Seq("en" -> 0.6, "de" -> 0.4), iters = 8)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(4)))
      .toMap
    def marg(f: ((String, String)) => String, key: String) =
      got.collect { case (k, v) if f(k) == key => v }.sum
    assert(math.abs(marg(_._1, "s1") - 0.7) < 0.01)
    assert(math.abs(marg(_._1, "s2") - 0.3) < 0.01)
    assert(math.abs(marg(_._2, "en") - 0.6) < 0.01)
    assert(math.abs(marg(_._2, "de") - 0.4) < 0.01)
    assert(marg(_._2, "fr") == 0.0)
  }

  test("cdcChunks: chunks partition the token array exactly and " +
    "resynchronize after a prepend edit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(5)
    val docs = (1L to 30L).map { i =>
      (i, (1 to 20 + rnd.nextInt(60))
        .map(_ => s"w${rnd.nextInt(40)}").mkString(" "))
    }.toDF("doc_id", "text")
    val ch = graft.llmops.TextOps.cdcChunks(docs, "doc_id", "text")
    // partition property: per doc the chunk sizes sum to the token
    // count and chunk_idx is a gapless 0..k-1 sequence
    val sums = ch.groupBy("doc_id")
      .agg(sum("n_tokens").as("nt"), count(lit(1)).as("k"),
        max("chunk_idx").as("mx"), min("chunk_idx").as("mn"))
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n")), Seq("doc_id"))
      .collect()
    sums.foreach { r =>
      assert(r.getAs[Long]("nt") == r.getAs[Long]("n"))
      assert(r.getAs[Int]("mn") == 0)
      assert(r.getAs[Int]("mx") == r.getAs[Long]("k") - 1)
    }
    // no zero-length chunks
    assert(ch.filter(col("n_tokens") <= 0).count() == 0)
    // edit locality: prepending one token keeps every chunk hash
    // except (at most) the leading chunk's
    val edited = docs.withColumn("text", concat(lit("zz "), col("text")))
    val h1 = ch.select(col("doc_id"), col("chunk_hash")).distinct()
    val h2 = graft.llmops.TextOps.cdcChunks(edited, "doc_id", "text")
      .select(col("doc_id"), col("chunk_hash")).distinct()
    val lost = h1.join(h2, Seq("doc_id", "chunk_hash"), "left_anti")
      .groupBy("doc_id").count().collect()
    // per doc at most ONE original chunk identity is lost (the one
    // the edit touched; boundaries after the first cut are content-
    // determined so everything downstream survives verbatim)
    lost.foreach(r => assert(r.getLong(1) <= 1L,
      s"doc ${r.get(0)} lost ${r.getLong(1)} chunks"))
  }

  test("bitextMarginMine: margins, mutual argmax, cell confinement") {
    import spark.implicits._
    // dim=2, nBits=1: hyperplane(0,2) = [-8, 9], so bucket =
    // [dot(v, (-8,9)) > 0] — vectors are placed per bucket by hand
    val a = Seq((1L, Seq(1f, 1f)), (2L, Seq(1f, 0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((10L, Seq(0.9f, 1f)), (11L, Seq(2f, 0f)),
      (12L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val got = Similarity.bitextMarginMine(a, b, "vec_id", "embedding",
      nBits = 1, dim = 2, k = 2, minMargin = 1.3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("margin")).toMap
    // bucket 1: a1 x {b10, b12}; bucket 0: a2 x {b11}. b12's best is
    // a1 but a1's best is b10 => b12 unmatched (mutual argmax).
    assert(got.keySet == Set((1L, 10L), (2L, 11L)))
    val c110 = (0.9 + 1.0) / (math.sqrt(2.0) * math.sqrt(0.9 * 0.9 + 1.0))
    val c112 = 1.0 / math.sqrt(2.0)
    val m110 = c110 / ((c110 + c112 + c110) / 4.0)
    assert(math.abs(got((1L, 10L)) - m110) < 1e-9)
    assert(math.abs(got((2L, 11L)) - 2.0) < 1e-9)
  }

  test("bitextMarginMine: non-positive denominator pins margin to 0") {
    import spark.implicits._
    val a = Seq((1L, Seq(1f, 1f))).toDF("vec_id", "embedding")
    val b = Seq((10L, Seq(-1f, 0f))).toDF("vec_id", "embedding")
    // both in bucket 1; the only cosine is negative, so both k-NN
    // sums are negative => margin must be the deterministic 0 pin
    val r = Similarity.bitextMarginMine(a, b, "vec_id", "embedding",
      nBits = 1, dim = 2, k = 2, minMargin = -10.0).collect()
    assert(r.length == 1 && r.head.getAs[Double]("margin") == 0.0)
    assert(Similarity.bitextMarginMine(a, b, "vec_id", "embedding",
      nBits = 1, dim = 2, k = 2, minMargin = 0.5).count() == 0)
  }
}
