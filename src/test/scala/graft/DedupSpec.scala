package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Dedup

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // corpus with one exact-dup class (1, 2), one near-dup pair (3, 4: one word
  // changed), and unrelated docs
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old river bank"),
    (2L, "  The  quick  brown fox jumps over the lazy dog near the old river bank "),
    (3L, "a stitch in time saves nine and a rolling stone gathers no moss at all"),
    (4L, "a stitch in time saves nine and a rolling stone gathers some moss at all"),
    (5L, "completely different content about spark catalyst optimizer internals"),
    (6L, "yet another unrelated document mentioning parquet column pruning only")
  ).toDF("doc_id", "text")

  test("exact dedup groups whitespace/case variants together") {
    val g = Dedup.exactDupGroups(docs, "doc_id", "text")
      .select("doc_id", "group_size", "canonical_id")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(g.filter(r => r._1 == 1 || r._1 == 2)
      .forall(r => r._2 == 2 && r._3 == 1))
    assert(g.filter(r => r._1 >= 3).forall(r => r._2 == 1 && r._3 == r._1))
  }

  test("word shingles: count and short-doc guard") {
    val sh = Dedup.wordShingles(docs, "doc_id", "text", 3)
    // doc 5 has 8 words -> 6 trigrams, all distinct
    assert(sh.filter($"doc_id" === 5).count() === 6)
    val tiny = Seq((9L, "only two")).toDF("doc_id", "text")
    assert(Dedup.wordShingles(tiny, "doc_id", "text", 3).count() === 0)
  }

  test("jaccard pairs find the near-dup pair and score the exact dups 1.0") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs.contains((3L, 4L)) && pairs((3L, 4L)) > 0.5 && pairs((3L, 4L)) < 1.0)
    assert(pairs.size === 2)
  }

  test("stop-shingle guard: hot shingles are cut from candidate generation " +
      "but still count toward the true Jaccard") {
    // planted stop-shingle corpus: every doc carries the same boilerplate
    // trigram ("subscribe to newsletter", df = 8 > guard 3 — the df² blow-up
    // seed), docs 1/2 additionally share real content, and docs 5-8 share
    // NOTHING but the boilerplate.
    val boiler = "subscribe to newsletter"
    val planted = Seq(
      (1L, s"alpha beta gamma delta epsilon $boiler"),
      (2L, s"alpha beta gamma delta zeta $boiler"),
      (3L, s"one two three four five $boiler"),
      (4L, s"six seven eight nine ten $boiler"),
      (5L, s"aa bb cc dd ee $boiler"),
      (6L, s"ff gg hh ii jj $boiler"),
      (7L, s"kk ll mm nn oo $boiler"),
      (8L, s"pp qq rr ss tt $boiler")
    ).toDF("doc_id", "text")
    val guarded = Dedup.jaccardPairs(planted, "doc_id", "text",
        n = 3, minJaccard = 0.0, maxShingleDf = 3)
      .select("id_a", "id_b", "inter", "jaccard")
      .as[(Long, Long, Long, Double)].collect()
    // candidate generation is sub-quadratic: only (1,2) shares a COLD
    // shingle, so 1 pair survives instead of the unguarded 28 (= 8·7/2,
    // every pair meeting on the boilerplate trigram)
    assert(guarded.map(r => (r._1, r._2)).toSet === Set((1L, 2L)))
    val unguarded = Dedup.jaccardPairs(planted, "doc_id", "text",
        n = 3, minJaccard = 0.0)
    assert(unguarded.count() === 28)
    // ... but the surviving pair's intersection still counts the hot
    // shingle: docs 1/2 share "delta epsilon|zeta subscribe" minus... the
    // exact sets: 9 shingles each, shared cold = 3 ("alpha beta gamma",
    // "beta gamma delta", "gamma delta epsilon|zeta" differ) -> shared
    // includes the boilerplate chain, recounted from the FULL sets
    val (_, _, inter, jac) = guarded.head
    val exact = unguarded
      .filter($"id_a" === 1 && $"id_b" === 2)
      .select("inter", "jaccard").as[(Long, Double)].head()
    assert((inter, jac) === exact,
      "guarded pair must carry the true (hot-inclusive) intersection")
  }

  test("LSH candidates contain every high-jaccard pair (no false negatives here)") {
    val cand = Dedup.minHashCandidates(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16)
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)) && cand.contains((3L, 4L)))
    // and the banded verify pipeline agrees with exact jaccard at tau=0.5
    val near = Dedup.minHashNearDups(docs, "doc_id", "text", 3, 64, 16, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(near === Set((1L, 2L), (3L, 4L)))
  }

  test("LSH bucket join is never all-pairs on the sf0.001 corpus") {
    val d = "/root/testdata/sf0.001"
    val n = graft.sources.Tables.documents(spark, d).count()
    val cand = Dedup.minHashCandidates(
      graft.sources.Tables.documents(spark, d), "doc_id", "text", 3, 64, 16).count()
    assert(cand < n * (n - 1) / 2 / 10, s"candidates=$cand for n=$n docs")
  }

  test("char shingles: whitespace-free grain, composes with jaccard") {
    val cjk = Seq((1L, "abcdefg"), (2L, "abcdefg"), (3L, "abcxefg"),
      (4L, "zzzzzzz")).toDF("doc_id", "text")
    val sh = Dedup.charShingles(cjk, "doc_id", "text", 3)
    assert(sh.filter($"doc_id" === 1).count() === 5) // 7 chars -> 5 trigrams
    // the shingle contract composes: same-text docs at jaccard 1.0
    val a = sh.filter($"doc_id" === 1).select("shingle").as[String].collect().toSet
    val b = sh.filter($"doc_id" === 2).select("shingle").as[String].collect().toSet
    val c = sh.filter($"doc_id" === 4).select("shingle").as[String].collect().toSet
    assert(a === b && (a & c).isEmpty)
  }

  test("simhash: exact dups have hamming 0, near dups small, unrelated large") {
    val fps = Dedup.simHash64(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(fps(a) ^ fps(b))
    assert(ham(1, 2) === 0)
    assert(ham(3, 4) <= 12)
    assert(ham(1, 5) > 12)
    val pairs = Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("crossJaccardPairs: cross-frame only, guard counts full intersection") {
    // incoming 101 is a near-dup of corpus 3 (one word changed); incoming
    // 102 matches nothing; corpus docs 3 and 4 are near-dups of EACH OTHER
    // but must never pair (corpus is not self-joined)
    val incoming = Seq(
      (101L, "a stitch in time saves nine and a rolling stone gathers no moss at last"),
      (102L, "entirely novel text with no overlap whatsoever to the corpus body")
    ).toDF("doc_id", "text")
    val corpus = docs.filter($"doc_id" =!= 1L) // keep 2,3,4,5,6
    val shA = Dedup.wordShingles(incoming, "doc_id", "text", 3)
    val shB = Dedup.wordShingles(corpus, "doc_id", "text", 3)
    val unguarded = Dedup.crossJaccardPairs(shA, shB, "doc_id",
      minJaccard = 0.3)
    val got = unguarded.select("id_a", "id_b").as[(Long, Long)]
      .collect().toSet
    assert(got.forall { case (a, b) => a >= 100L && b < 100L },
      s"corpus or incoming self-pair leaked: $got")
    assert(got.contains((101L, 3L)) && got.contains((101L, 4L)))
    assert(!got.exists(_._1 == 102L))
    // the df guard drops hot shingles from candidate GENERATION, and the
    // LSH tier generates from bands, but the reported intersection still
    // counts every shared shingle: (inter, jaccard) must equal the
    // unguarded run's for every surviving pair
    val jU = unguarded.select("id_a", "id_b", "inter", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    Seq(
      "guarded" -> Dedup.crossJaccardPairs(shA, shB, "doc_id",
        minJaccard = 0.3, maxShingleDf = 2L),
      "minhash" -> Dedup.crossMinHashNearDups(shA, shB, "doc_id",
        numHashes = 64, bands = 32, minJaccard = 0.3)
    ).foreach { case (path, verified) =>
      val jG = verified.select("id_a", "id_b", "inter", "jaccard")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(jG.subsetOf(jU), s"$path produced different values: $jG vs $jU")
      assert(jG.exists(_._1 == 101L), s"$path killed the real pair")
    }
  }

  test("crossMinHashNearDups: batch probes corpus buckets, never A×A/B×B") {
    // incoming 101 duplicates corpus doc 3 exactly (must collide in every
    // band); incoming 102 matches nothing; corpus 3/4 are near-dups of each
    // other but must never pair (corpus is only ever the build side)
    val corpusText3 = docs.filter($"doc_id" === 3L)
      .select("text").as[String].head()
    val incoming = Seq(
      (101L, corpusText3),
      (102L, "entirely novel text with no overlap whatsoever to the corpus body")
    ).toDF("doc_id", "text")
    val corpus = docs.filter($"doc_id" =!= 1L)
    val shA = Dedup.wordShingles(incoming, "doc_id", "text", 3)
    val shB = Dedup.wordShingles(corpus, "doc_id", "text", 3)
    val got = Dedup.crossMinHashNearDups(shA, shB, "doc_id",
        numHashes = 64, bands = 16, minJaccard = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    assert(got.forall { case (a, b, _) => a >= 100L && b < 100L },
      s"non-cross pair leaked: ${got.toSeq}")
    val exact = got.find { case (a, b, _) => a == 101L && b == 3L }
    assert(exact.exists(_._3 === 1.0), s"identical doc not found: ${got.toSeq}")
    assert(!got.exists(_._1 == 102L))
  }

  test("crossMinHashCandidates accepts PREBUILT corpus buckets unchanged") {
    // the production shape: corpus buckets persisted once, batch signatures
    // probe them — results identical to the compose-everything path
    val incoming = Seq((101L, docs.filter($"doc_id" === 3L)
      .select("text").as[String].head())).toDF("doc_id", "text")
    val corpus = docs.filter($"doc_id" =!= 1L)
    val shA = Dedup.wordShingles(incoming, "doc_id", "text", 3)
    val shB = Dedup.wordShingles(corpus, "doc_id", "text", 3)
    val sigsA = Dedup.minHashSignaturesFromShingles(shA, "doc_id", 64)
    val prebuilt = Dedup.lshBuckets(
      Dedup.minHashSignaturesFromShingles(shB, "doc_id", 64),
      "doc_id", bands = 16, rowsPerBand = 4)
      .localCheckpoint(true) // stands in for a persisted parquet bucket table
    val cands = Dedup.crossMinHashCandidates(sigsA, prebuilt, "doc_id",
        bands = 16, rowsPerBand = 4)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((101L, 3L)))
    assert(cands.forall { case (a, b) => a == 101L && b < 100L })
  }

  test("segmentDedup: first occurrence wins, text rebuilds in order") {
    // seg size 3: doc 1 = [a b c][d e f]; doc 2 repeats [a b c] at its
    // FIRST position then adds a new block; doc 3 is an exact dup of doc 1
    // (keeps nothing); doc 4 repeats a block INSIDE itself; doc 5 is empty
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "a b c d e f"),
      (4L, "p q r p q r"),
      (5L, "")
    ).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((2L, 2L, "a b c d e f")))
    assert(got(2L) === ((2L, 1L, "x y z"))) // shared block dropped
    assert(got(3L) === ((2L, 0L, "")))      // exact dup keeps nothing
    assert(got(4L) === ((2L, 1L, "p q r"))) // in-doc repeat dropped
    assert(got(5L) === ((0L, 0L, "")))      // empty doc present with zeros
  }

  test("typoPairs: substitution, insertion, deletion found; distance-2 not") {
    val vocab = Seq(
      "table", "tible",   // substitution at pos 2
      "merge", "merges",  // insertion at the end
      "order", "oder",    // deletion of the r
      "batch", "bitch",   // substitution
      "query", "quarry",  // distance 2 — must NOT pair
      "abc"               // below minLen — generates nothing
    ).toDF("tok")
    val got = Dedup.typoPairs(vocab, "tok")
      .select($"tok_a", $"tok_b").as[(String, String)].collect().toSet
    assert(got.contains(("table", "tible")))
    assert(got.contains(("merge", "merges")))
    assert(got.contains(("oder", "order")))
    assert(got.contains(("batch", "bitch")))
    assert(!got.exists { case (a, b) => a == "quarry" || b == "quarry" })
    assert(!got.exists { case (a, b) => a == "abc" || b == "abc" })
    // exactly the planted pairs — no false positives from shared variants
    assert(got.size === 4)
  }

  test("prefix-filtered Jaccard equals the unguarded inverted index") {
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val full = Dedup.jaccardPairs(docs, "doc_id", "text", 3, tau)
        .select("id_a", "id_b", "inter", "jaccard")
        .as[(Long, Long, Long, Double)].collect().toSet
      val pref = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 3, tau)
        .select("id_a", "id_b", "inter", "jaccard")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(pref === full, s"tau=$tau")
    }
  }

  // seeded corpus over a 5-word vocabulary: trigram shingles collide
  // across docs, so pairs spread over the whole Jaccard range and some
  // shingles exceed a small df cap (the guarded paths' hot recount runs)
  private lazy val collidingDocs = {
    val rnd = new scala.util.Random(20261017L)
    val vocab = Seq("ka", "lo", "mu", "ne", "pi")
    (1L to 40L).map { i =>
      (i, Seq.fill(5 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("every verified self path reports the unguarded index's exact " +
      "(inter, jaccard)") {
    val tau = 0.3
    val exact = Dedup.jaccardPairs(collidingDocs, "doc_id", "text", 3, tau)
      .select("id_a", "id_b", "inter", "jaccard")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    Seq(
      "guarded jaccardPairs" -> Dedup.jaccardPairs(collidingDocs, "doc_id",
        "text", 3, tau, maxShingleDf = 4L),
      "minHashNearDups" -> Dedup.minHashNearDups(collidingDocs, "doc_id",
        "text", 3, numHashes = 64, bands = 32, minJaccard = tau),
      "portable minHashNearDups" -> Dedup.minHashNearDups(collidingDocs,
        "doc_id", "text", 3, numHashes = 64, bands = 32, minJaccard = tau,
        portable = true),
      "prefixJaccardPairs" -> Dedup.prefixJaccardPairs(collidingDocs,
        "doc_id", "text", 3, tau)
    ).foreach { case (path, verified) =>
      val got = verified.select("id_a", "id_b", "inter", "jaccard")
        .as[(Long, Long, Long, Double)].collect()
      assert(got.nonEmpty, s"$path: degenerate fixture")
      got.foreach { case (a, b, inter, j) =>
        assert(exact.get((a, b)).contains((inter, j)),
          s"$path: ($a, $b) reports ($inter, $j), exact ${exact.get((a, b))}")
      }
    }
  }

  test("jaccardPairsFromShingles: the hashed grains give the string " +
      "grains' rows") {
    // the char grain's 35 possible trigrams sit in most docs, so its cap
    // that still leaves cold shingles is higher
    Seq(
      ("word", Dedup.wordShingles _, Dedup.wordShingleHashes _, 4L),
      ("char", Dedup.charShingles _, Dedup.charShingleHashes _, 30L)
    ).foreach { case (grain, strings, hashes, cap) =>
      Seq(Long.MaxValue, cap).foreach { maxDf =>
        def rows(sh: org.apache.spark.sql.DataFrame) =
          Dedup.jaccardPairsFromShingles(sh, "doc_id", 0.1, maxDf)
            .select("id_a", "id_b", "inter", "jaccard")
            .as[(Long, Long, Long, Double)].collect().toSet
        val want = rows(strings(collidingDocs, "doc_id", "text", 3))
        assert(want.nonEmpty, s"$grain, maxShingleDf $maxDf: degenerate fixture")
        assert(rows(hashes(collidingDocs, "doc_id", "text", 3)) === want,
          s"$grain grain, maxShingleDf $maxDf")
      }
    }
  }

  test("prefix-filtered Jaccard is complete vs driver-side brute force " +
      "on a seeded random corpus") {
    val rnd = new scala.util.Random(4242)
    // tiny vocabulary so bigram shingles actually collide across docs:
    // many pairs land on either side of the threshold
    val vocab = (0 until 8).map(i => s"w$i")
    val corpus = (1L to 60L).map { i =>
      val len = 12 + rnd.nextInt(14)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    val tau = 0.2
    val got = Dedup.prefixJaccardPairs(df, "doc_id", "text", 2, tau)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // brute force over all pairs, driver-side, independent shingling
    def shingles(t: String): Set[String] = {
      val ws = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (ws.length < 2) Set.empty
      else ws.sliding(2).map(_.mkString(" ")).toSet
    }
    val sets = corpus.map { case (i, t) => i -> shingles(t) }.toMap
    val want = (for {
      a <- corpus.map(_._1); b <- corpus.map(_._1) if a < b
      inter = (sets(a) intersect sets(b)).size
      if inter > 0
      j = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if j >= tau
    } yield (a, b) -> j).toMap
    assert(got === want)
    assert(want.nonEmpty, "fixture must actually produce qualifying pairs")
  }

  test("prefix candidates prune vs the full index and honor the length filter") {
    // boilerplate corpus: every doc shares ONE hot trigram (df = 6) plus
    // unique content. The full index makes all 15 pairs candidates; under
    // the (df ASC, shingle ASC) canonical order the hot trigram sorts LAST
    // and falls out of every prefix, so the prefix index generates ZERO —
    // the organic stop-shingle behavior that replaces q22's df cutoff
    val boiler = (1L to 6L).map { i =>
      (i, s"u${i}a u${i}b u${i}c u${i}d subscribe to newsletter")
    }.toDF("doc_id", "text")
    val sh = Dedup.wordShingles(boiler, "doc_id", "text", 3)
    val fullCand = sh.select($"doc_id".as("id_a"), $"shingle")
      .join(sh.select($"doc_id".as("id_b"), $"shingle"), Seq("shingle"))
      .filter($"id_a" < $"id_b").select("id_a", "id_b").distinct().count()
    assert(fullCand === 15L)
    assert(Dedup.prefixCandidates(sh, "doc_id", 0.5).count() === 0L)
    // length filter: a 3-shingle doc vs a 30-shingle doc can never reach
    // J >= 0.5 (3/30 = 0.1 even at full containment) — no candidate even
    // though they share a shingle
    val skew = Seq(
      (1L, "alpha beta gamma delta epsilon"), // 3 trigram shingles
      (2L, ("alpha beta gamma delta epsilon " +
        (1 to 27).map(i => s"filler$i").mkString(" ")))
    ).toDF("doc_id", "text")
    val skewSh = Dedup.wordShingles(skew, "doc_id", "text", 3)
    assert(Dedup.prefixCandidates(skewSh, "doc_id", 0.5).count() === 0)
    // sanity: they DO share shingles — only the length filter removed them
    val shared = skewSh.filter($"doc_id" === 1).select("shingle")
      .intersect(skewSh.filter($"doc_id" === 2).select("shingle")).count()
    assert(shared > 0)
  }

  test("ppjoin positional filter prunes deep-prefix matches the length " +
      "filter keeps; a qualifying pair survives") {
    // docs 1/2: 5 unique df=1 shingles each (ranks 1-5) + 5 shared df=2
    // shingles (ranks 6-10). At τ=0.5 the prefix bound is rank ≤ 6, so
    // the first shared shingle "a" IS in both prefixes (rank 6, 6) and
    // the length filter passes (10 vs 10) — the pre-round-10 index
    // admits the pair. Positionally: I ≤ 1 + min(10−6, 10−6) = 5 < α =
    // τ/(1+τ)·20 ≈ 6.67, so no qualifying overlap can start that deep —
    // pruned before the verify (true J = 5/15, correctly sub-threshold).
    val sh = (
      (1 to 5).map(i => (1L, s"u1$i")) ++
        Seq("a", "b", "c", "d", "e").map(s => (1L, s)) ++
        (1 to 5).map(i => (2L, s"v2$i")) ++
        Seq("a", "b", "c", "d", "e").map(s => (2L, s))
      ).toDF("doc_id", "shingle")
    assert(Dedup.prefixCandidates(sh, "doc_id", 0.5).count() === 0L)
    // an actually-qualifying pair (identical 6-shingle docs, J = 1):
    // first shared element at rank 1, ubound = 6 ≥ α = 4 — survives
    val dup = (Seq.tabulate(6)(i => (5L, s"s$i")) ++
      Seq.tabulate(6)(i => (6L, s"s$i"))).toDF("doc_id", "shingle")
    assert(Dedup.prefixCandidates(dup, "doc_id", 0.5).count() === 1L)
  }

  test("cosinePairs: hand-computed dots, norms, and the integer threshold") {
    val docs = Seq(
      (1L, "a a b"),   // tf a:2 b:1, n2 = 5
      (2L, "a a b b"), // tf a:2 b:2, n2 = 8
      (3L, "c d"),     // shares nothing with 1/2
      (4L, "a a b")    // exact dup of 1
    ).toDF("doc_id", "text")
    // τ² = 1/2, permissive guard (df <= n) keeps every term
    val got = Dedup.cosinePairs(docs, "doc_id", "text", 1L, 2L,
      maxDfPermille = 1000L)
      .select("id_a", "id_b", "dot", "n2_a", "n2_b", "cos2_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sorted
    // (1,2): dot 6, 2·36 >= 5·8 ✓, cos² = 36e6/40 = 900000
    // (1,4): dot 5, cos² = 1e6; (2,4): dot 6 like (1,2)
    assert(got.toSeq === Seq(
      (1L, 2L, 6L, 5L, 8L, 900000L),
      (1L, 4L, 5L, 5L, 5L, 1000000L),
      (2L, 4L, 6L, 8L, 5L, 900000L)))
  }

  test("SparseVecModel.collect fails loudly past the in-function posting " +
      "bound instead of allocating the model") {
    // the model's (id, __ks, __vs, __n2) input contract, 5 postings total
    val vecs = Seq(
      (1L, Seq(10L, 20L), Seq(2L, 1L), 5L),
      (2L, Seq(10L, 20L, 30L), Seq(1L, 1L, 1L), 3L)
    ).toDF("doc_id", "__ks", "__vs", "__n2")
    // caller-passed gate re-checked inside the function: 5 postings > 2
    val ex = intercept[IllegalArgumentException] {
      graft.plans.SparseVecModel.collect(vecs, maxPostings = 2L)
    }
    assert(ex.getMessage.contains("regime bound"))
    // within the gate it builds normally
    val m = graft.plans.SparseVecModel.collect(vecs, maxPostings = 100L)
    assert(m.ids.length === 2)
  }

  test("exactSubstrSpans: planted long repeats resolve to exact maximal " +
      "spans; sub-threshold repeats are invisible") {
    val p = (1 to 12).map(i => s"p$i").mkString(" ")  // shared 12-token run
    val q = (1 to 9).map(i => s"q$i").mkString(" ")   // within-doc repeat
    val s7 = (1 to 7).map(i => s"s$i").mkString(" ")  // below minTokens=8
    val docs = Seq(
      (1L, s"a1 a2 a3 $p b1 b2"),     // p at positions 3..14
      (2L, s"c1 c2 $p d1"),           // p at positions 2..13
      (3L, s"$q x $q"),               // q at 0..8 and 10..18
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"), // unique, long enough
      (5L, ""),                        // empty
      (6L, s"$s7 e1 e2"), (7L, s"f1 $s7 f2")  // 7 shared tokens: no span
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(docs, "doc_id", "text", minTokens = 8)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(spans === Seq(
      (1L, 3L, 15L, 12L),
      (2L, 2L, 14L, 12L),
      (3L, 0L, 9L, 9L), (3L, 10L, 19L, 9L)))
    val scrub = Dedup.exactSubstrScrub(docs, "doc_id", "text", minTokens = 8)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(scrub === Seq(
      (1L, 17L, 12L, "a1 a2 a3 b1 b2"),
      (2L, 15L, 12L, "c1 c2 d1"),
      (3L, 19L, 18L, "x"),
      (4L, 10L, 0L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
      (5L, 0L, 0L, ""),
      (6L, 9L, 0L, s"$s7 e1 e2"),
      (7L, 9L, 0L, s"f1 $s7 f2")))
  }

  test("exactSubstrProvenance: pair shared-gram counts are exact; " +
      "within-doc repeats pair with nobody; hot grams above the df cap " +
      "are excluded from pairing") {
    val p = (1 to 12).map(i => s"p$i").mkString(" ")
    val q = (1 to 9).map(i => s"q$i").mkString(" ")
    val h = (1 to 8).map(i => s"h$i").mkString(" ")
    val g = (1 to 8).map(i => s"g$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 $p b1 b2"),  // p-grams at starts 3..7
      (2L, s"c1 c2 $p d1"),        // the same 5 p-grams
      (3L, s"$q x $q"),            // duplicated grams, but df(docs) = 1
      (10L, h), (11L, h), (12L, h), (13L, h), // df = 4 > cap: unpaired
      (20L, g), (21L, g)           // df = 2: one shared gram
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstrProvenance(docs, "doc_id", "text",
      minTokens = 8, maxGramDf = 3)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sorted.toSeq
    // doc1 has 10 distinct grams, doc2 has 8; 5 shared; 5e6/8 = 625000
    assert(got === Seq(
      (1L, 2L, 5L, 10L, 8L, 625000L),
      (20L, 21L, 1L, 1L, 1L, 1000000L)))
  }

  test("exactSubstrSpans: an L-token repeat at doc edges is exactly one " +
      "gram and still surfaces") {
    val p8 = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, p8), (2L, s"$p8")).toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(docs, "doc_id", "text", 8)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(spans === Seq((1L, 0L, 8L, 8L), (2L, 0L, 8L, 8L)))
  }

  test("cosinePairs: a STRING-id corpus takes the distributed verify " +
      "tier and returns the same pairs") {
    // the collected model keys docs by primitive long, so the model tier
    // is gated on the id dtype — a string-id corpus under the postings
    // bound must still run (through the merge-dot join tier), not fail
    // at Row.getLong
    val docs = Seq(
      ("d1", "a a b"), ("d2", "a a b b"), ("d3", "c d"), ("d4", "a a b")
    ).toDF("doc_id", "text")
    val got = Dedup.cosinePairs(docs, "doc_id", "text", 1L, 2L,
      maxDfPermille = 1000L)
      .select("id_a", "id_b", "dot", "n2_a", "n2_b", "cos2_micro")
      .as[(String, String, Long, Long, Long, Long)].collect().sorted
    assert(got.toSeq === Seq(
      ("d1", "d2", 6L, 5L, 8L, 900000L),
      ("d1", "d4", 5L, 5L, 5L, 1000000L),
      ("d2", "d4", 6L, 8L, 5L, 900000L)))
  }

  test("cosinePairs: the pair set is invariant to the self-join chunk size") {
    // the balanced-self-join cells are candidates-only machinery, so ANY
    // chunk size must yield the identical canonical pair set. The sf
    // fixtures' hot terms never exceed the production chunk (2048), so
    // without this test the multi-chunk cells (replicated left rows,
    // (0..c) right fans, within-cell (c,c) dedup by id order) would only
    // ever execute un-oracled at sf1. Seeded random corpora over a tiny
    // alphabet maximize shared terms; chunk=1 is the max-replication edge
    // (every posting its own chunk), 3 exercises ragged tails, 1<<30
    // degenerates to the unchunked join that defines the expected set.
    val rnd = new scala.util.Random(20260814L)
    (1 to 5).foreach { trial =>
      val docs = (1L to 30L).map { i =>
        val len = 2 + rnd.nextInt(8)
        (i, (1 to len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString(" "))
      }.toDF("doc_id", "text")
      val results = Seq(1L, 3L, 1L << 30).map { chunk =>
        Dedup.cosinePairs(docs, "doc_id", "text", 1L, 2L,
            maxDfPermille = 1000L, selfJoinChunk = chunk)
          .select("id_a", "id_b", "dot", "n2_a", "n2_b", "cos2_micro")
          .as[(Long, Long, Long, Long, Long, Long)].collect().sorted.toSeq
      }
      assert(results(0) === results(2), s"trial $trial: chunk=1 diverged")
      assert(results(1) === results(2), s"trial $trial: chunk=3 diverged")
      assert(results(2).nonEmpty, s"trial $trial: degenerate fixture")
    }
  }

  test("cosinePairs: hot terms leave the metric's vocabulary entirely") {
    val docs = Seq(
      (1L, "a a b"), (2L, "a a b b"), (4L, "a a b"),
      (5L, "a a") // all-hot doc: no vector, pairs with nobody
    ).toDF("doc_id", "text")
    // "a" has df 4 of n 4 > 75% -> excluded; "b" df 3 = 75% stays:
    // vectors over {b} alone
    val got = Dedup.cosinePairs(docs, "doc_id", "text", 1L, 2L,
      maxDfPermille = 750L)
      .select("id_a", "id_b", "dot", "n2_a", "n2_b", "cos2_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sorted
    assert(got.toSeq === Seq(
      (1L, 2L, 2L, 1L, 4L, 1000000L),
      (1L, 4L, 1L, 1L, 1L, 1000000L),
      (2L, 4L, 2L, 4L, 1L, 1000000L)))
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("cosinePairs: the weighted prefix filter is complete — result is canonical") {
    // the case the round-7/8 fixed-k prefix could miss by construction:
    // a qualifying pair whose ONLY shared term is each doc's COMMONEST.
    // Global rarity order puts w/v/u/q/z (df 1) before x (df 3); docs 1
    // and 3 share only "x", yet their cosine meets τ² = 1/10 — under
    // the suffix-norm bound (den·s2 ≥ num·n2) "x" stays indexed in both
    // docs (its suffix still carries ≥ 1/10 of each n2), so the pair IS
    // generated; at a prefix of any fixed k = 1 rarest it would not be
    val docs = Seq(
      (1L, "x x x w"),  // tf x:3 w:1, n2 = 10; rarity order: w then x
      (2L, "v u q"),    // unrelated
      (3L, "x x x z")   // tf x:3 z:1, n2 = 10
    ).toDF("doc_id", "text")
    val got = Dedup.cosinePairs(docs, "doc_id", "text", 1L, 10L,
        maxDfPermille = 1000L)
      .select("id_a", "id_b", "dot", "cos2_micro")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // dot = 9, cos² = 81/100 ≥ 1/10 ✓ — and nothing pairs with doc 2
    assert(got === Seq((1L, 3L, 9L, 810000L)))
  }

  test("cosinePairs: prefix indexes exactly while the suffix norm matters") {
    // τ² = 9/10: suffix may keep < 9/10 of n2. doc "a b c d" (tf all 1,
    // n2 = 4, global order a<b<c<d at equal df): s2 by rank is 4,3,2,1;
    // den·s2 ≥ num·n2 ⇔ 10·s2 ≥ 36 holds only at rank 1 — exactly one
    // term indexes per doc. Two exact dups still meet at rank 1 (same
    // global order ⇒ same first term), so the pair survives
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d")
    ).toDF("doc_id", "text")
    val got = Dedup.cosinePairs(docs, "doc_id", "text", 9L, 10L,
        maxDfPermille = 1000L)
      .select("id_a", "id_b", "cos2_micro")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 1000000L)))
  }

  test("cosineNearDupsSimhash: colinear tf vectors pair at hamming 0, cos 1") {
    // doc 2 is doc 1 with every sentence doubled: tf vectors are COLINEAR
    // (the case set-Jaccard under-scores), so the weighted simhash is
    // identical (sign sums scale) and the exact cosine is 1; doc 3 is
    // unrelated and must not appear
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta alpha beta gamma delta"),
      (3L, "совершенно other content here entirely unrelated words")
    ).toDF("doc_id", "text")
    val got = Dedup.cosineNearDupsSimhash(docs, "doc_id", "text",
        minCos2Num = 9L, minCos2Den = 10L)
      .select("id_a", "id_b", "hamming", "cos2_micro")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 0L, 1000000L)))
  }

  test("cosinePairs: the scale-tier shuffle verify equals the model tier") {
    // same corpora as the hand-computed test, forced down the else-branch
    // (modelTierMaxPostings = -1): both tiers must produce identical rows
    val docs = Seq(
      (1L, "a a b"), (2L, "a a b b"), (3L, "c d"), (4L, "a a b")
    ).toDF("doc_id", "text")
    def run(gate: Long) =
      Dedup.cosinePairs(docs, "doc_id", "text", 1L, 2L,
        maxDfPermille = 1000L, modelTierMaxPostings = gate)
        .select("id_a", "id_b", "dot", "n2_a", "n2_b", "cos2_micro")
        .as[(Long, Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(run(-1L) === run(Long.MaxValue))
    assert(run(-1L).nonEmpty)
  }

  test("cosinePairs: the candidate-mass regime guard routes a high-mass " +
      "corpus to the signature-LSH tier") {
    // planted high-mass fixture: every doc shares the same 4-term
    // vocabulary, so with 8 docs Σ_t df² = 4·64 = 256 — past a bound of
    // 200 the guard must fire. Doc 9 sits at ~45° to doc 1 (cos² = 1/2
    // exactly is below τ²=1/2 strict? dot²·den vs num·n2 uses >=, so it
    // QUALIFIES for the exact tier) yet its tf simhash differs in > 3
    // bits from nothing — it shares the signature space, so instead the
    // discriminating case is recall: the LSH tier keeps exact dups
    // (hamming 0) and the guard's output must equal the simhash tier's
    // rows byte-for-byte, proving the route (not a slow exact pass that
    // happens to agree).
    val docs = Seq(
      (1L, "a a b c d"), (2L, "a a b c d"),           // exact dups
      (3L, "a b c d"), (4L, "b c d a"),               // exact dups (perm)
      (5L, "a a a a b"), (6L, "c c c c d"),
      (7L, "a b a b a b"), (8L, "c d c d")
    ).toDF("doc_id", "text")
    val routed = Dedup.cosinePairs(docs, "doc_id", "text", 9L, 10L,
        maxDfPermille = 1000L, maxCandidateMass = 200.0)
      .select("id_a", "id_b", "dot", "n2_a", "n2_b", "cos2_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sorted.toSeq
    val simhash = Dedup.cosineNearDupsSimhash(docs, "doc_id", "text",
        minCos2Num = 9L, minCos2Den = 10L, maxHamming = 3, portable = true)
      .select("id_a", "id_b", "dot", "n2_a", "n2_b", "cos2_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(routed === simhash && routed.nonEmpty)
    // exact dups survive the route (hamming 0, cos² = 1)
    assert(routed.exists(r => r._1 == 1L && r._2 == 2L && r._6 == 1000000L))
    assert(routed.exists(r => r._1 == 3L && r._2 == 4L && r._6 == 1000000L))
    // below the bound the same corpus takes the exact tier unchanged:
    // the default-bound run must equal an unguarded run byte-for-byte
    val exact = Dedup.cosinePairs(docs, "doc_id", "text", 9L, 10L,
        maxDfPermille = 1000L)
      .select("id_a", "id_b", "dot", "n2_a", "n2_b", "cos2_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sorted.toSeq
    val unguarded = Dedup.cosinePairs(docs, "doc_id", "text", 9L, 10L,
        maxDfPermille = 1000L, maxCandidateMass = Double.MaxValue)
      .select("id_a", "id_b", "dot", "n2_a", "n2_b", "cos2_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(exact === unguarded)
  }

  test("cosinePairs: sub-threshold pairs drop even with shared terms") {
    // doc 6/7 share one low-weight term among many: cos well under 0.707
    val docs = Seq(
      (6L, "x y z w a"), (7L, "a p q r s")
    ).toDF("doc_id", "text")
    assert(Dedup.cosinePairs(docs, "doc_id", "text", 1L, 2L, 1000L)
      .count() === 0)
    // but the same pair passes at a permissive τ² = 1/100
    assert(Dedup.cosinePairs(docs, "doc_id", "text", 1L, 100L, 1000L)
      .count() === 1)
  }

  test("pre-hashed (long) shingles yield bit-identical portable signatures") {
    // the round-16 hashed-grain contract: a LongType shingle column is
    // fnv1a64(shingle string), and minHashSignaturesFromShingles uses it
    // as the base hash DIRECTLY — signatures (hence banded candidate
    // sets) must equal the string-grain portable family bit for bit
    val fromStrings = Dedup.minHashSignaturesFromShingles(
        Dedup.wordShingles(docs, "doc_id", "text", 3), "doc_id", 16,
        portable = true)
      .select(col("doc_id"), concat_ws(",", col("sig")).as("s"))
      .as[(Long, String)].collect().toMap
    val fromHashes = Dedup.minHashSignaturesFromShingles(
        Dedup.wordShingleHashes(docs, "doc_id", "text", 3), "doc_id", 16,
        portable = true)
      .select(col("doc_id"), concat_ws(",", col("sig")).as("s"))
      .as[(Long, String)].collect().toMap
    assert(fromStrings === fromHashes)
    // the xxhash64 family is defined over shingle STRINGS: a pre-hashed
    // frame must be refused, not silently given different signatures
    val e = intercept[IllegalArgumentException] {
      Dedup.minHashSignaturesFromShingles(
        Dedup.wordShingleHashes(docs, "doc_id", "text", 3), "doc_id", 16,
        portable = false)
    }
    assert(e.getMessage.contains("pre-hashed"))
  }

  test("band sweep: per-config candidates equal the direct formulation") {
    val sh = Dedup.wordShingles(docs, "doc_id", "text", 3)
    val sweep = Dedup.minHashBandSweep(sh, "doc_id", numHashes = 16,
        bandsList = Seq(4, 8), portable = true)
      .as[(Long, Long, Long)].collect().toSet
    val direct = Seq(4, 8).flatMap { b =>
      Dedup.minHashCandidatesFromSignatures(
          Dedup.minHashSignaturesFromShingles(sh, "doc_id", 16,
            portable = true), "doc_id", b, 16 / b)
        .as[(Long, Long)].collect().map { case (a, bb) => (a, bb, b.toLong) }
    }.toSet
    assert(sweep === direct)
    // the exact-dup pair (1, 2) has identical signatures: candidate in
    // EVERY configuration by construction
    assert(Seq(4L, 8L).forall(b => sweep.contains((1L, 2L, b))))
  }
}
