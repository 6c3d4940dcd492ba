package graft

import java.nio.file.Files
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, TextOps, TrainingOps}

/** Training-mix assembly operators, each checked against an
  * INDEPENDENT plain-Scala reconstruction on the sf0.001 corpus (the
  * DuckDB oracle hash-checks the same queries at sf0.01; these specs
  * pin the per-row semantics with reimplementations that share no
  * Spark expression code with the operators).
  */
class TrainingMixSpec extends AnyFunSuite with SparkFixture {

  /** The engine-wide canonical normalization, reimplemented. */
  private def norm(text: String): String =
    text.replaceAll("\\s+", " ").trim.toLowerCase

  /** split(norm, " ") with Spark semantics (keeps trailing empties). */
  private def toks(text: String): Array[String] = norm(text).split(" ", -1)

  private def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** md5(doc_id)[0,8) as hex -> long, the mixWeighted bucket. */
  private def md5Bucket(docId: Long): Long = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(docId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    java.lang.Long.parseLong(hex, 16) % 100
  }

  private lazy val corpus: Map[Long, (String, String)] =
    Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap

  test("mix_weighted: per-doc copies follow the md5-bucket formula; unmapped sources get defaultPct") {
    val weights = TrainingOps.defaultMixWeights.toMap
    val out = TrainingOps.mixWeighted(spark, sf).collect()
    assert(out.length == corpus.size, "one manifest row per document")
    out.foreach { r =>
      val (id, src, w, bucket, copies) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(w == weights.getOrElse(src, 100).toLong, s"doc $id source $src")
      assert(bucket == md5Bucket(id), s"doc $id bucket")
      assert(copies == w / 100 + (if (bucket < w % 100) 1L else 0L), s"doc $id copies")
    }
    // The demo weights exercise all three regimes on this corpus:
    // up-sampling (>1 copy), pass-through, and down-sampling (0 copies).
    val bySrc = out.groupBy(_.getString(1)).map { case (s, rs) =>
      s -> rs.map(_.getLong(4)).sum
    }
    assert(bySrc("src0") > bySrc.filterKeys(_ != "src0").values.max,
      "the 250% source must dominate the manifest")
    assert(out.exists(r => r.getLong(4) == 0L), "a 50% source drops ~half its docs")
    // Deterministic: a rerun yields the identical manifest.
    assert(TrainingOps.mixWeighted(spark, sf).collect().sameElements(out))
  }

  test("decontaminate_ngram matches a plain-Scala 8-gram leakage scrub") {
    val n = 8
    val evalMod = 97
    def ngrams(text: String): Set[String] = {
      val t = toks(text)
      if (t.length >= n) t.sliding(n).map(_.mkString(" ")).toSet
      else Set(t.mkString(" "))
    }
    val evalGrams = corpus.collect {
      case (id, (_, text)) if id % evalMod == 0 => ngrams(text)
    }.toSet.flatten
    val expected = corpus.collect {
      case (id, (_, text)) if id % evalMod != 0 =>
        id -> ngrams(text).count(evalGrams.contains).toLong
    }
    val got = TrainingOps.decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.keySet == expected.keySet, "all non-eval docs, only non-eval docs")
    expected.foreach { case (id, hits) =>
      assert(got(id) == (hits, hits > 0), s"doc $id")
    }
    // The synthetic corpus repeats near-dup templates across the
    // eval boundary, so the scrub must actually fire somewhere.
    assert(expected.values.exists(_ > 0), "fixture must contain contamination")
    assert(expected.values.exists(_ == 0), "fixture must contain clean docs")
  }

  test("corpus_manifest agrees with independent per-source recomputation") {
    val bpe = "[a-z]+|[0-9]+|[^a-z0-9 ]".r
    case class Agg(docs: Long, toksN: Long, chars: Long,
                   langs: Set[String], hashes: List[String])
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "lang", "text").collect()
    val expected = docs.groupBy(_.getString(1)).map { case (src, rs) =>
      val normed = rs.map(r => (r.getString(2), norm(r.getString(3))))
      src -> Agg(
        rs.length.toLong,
        normed.map(t => bpe.findAllIn(t._2).size.toLong).sum,
        normed.map(_._2.length.toLong).sum,
        normed.map(_._1).toSet,
        normed.map(t => sha256Hex(t._2)).toList)
    }
    val got = TrainingOps.corpusManifest(spark, sf).collect()
    assert(got.map(_.getString(0)).toSet == expected.keySet)
    got.foreach { r =>
      val e = expected(r.getString(0))
      assert(r.getLong(1) == e.docs)
      assert(r.getLong(2) == e.toksN, s"${r.getString(0)} tokens")
      assert(r.getLong(3) == e.chars)
      assert(r.getLong(4) == e.langs.size.toLong)
      assert(r.getLong(5) == e.hashes.size - e.hashes.toSet.size, s"${r.getString(0)} dups")
    }
  }

  test("text_repetition_filter matches a plain-Scala distinct/top-bigram reconstruction") {
    val out = TextOps.textRepetitionFilter(spark, sf).collect()
    assert(out.length == corpus.size)
    out.foreach { r =>
      val id = r.getLong(0)
      val t = toks(corpus(id)._2)
      val bigrams =
        if (t.length >= 2) t.sliding(2).map(_.mkString(" ")).toSeq
        else Seq(t.mkString(" "))
      val topCnt = bigrams.groupBy(identity).values.map(_.size).max.toLong
      val distinctX100 = math.floor(100.0 * t.distinct.length / t.length).toLong
      val topX100 = math.floor(100.0 * topCnt / bigrams.length).toLong
      assert(r.getLong(1) == t.length.toLong, s"doc $id n_tokens")
      assert(r.getLong(2) == distinctX100, s"doc $id distinct ratio")
      assert(r.getLong(3) == topX100, s"doc $id top bigram")
      assert(r.getBoolean(4) == (distinctX100 >= 30 && topX100 <= 20), s"doc $id keep")
    }
  }

  test("text_repetition_filter rejects crafted spam and keeps diverse text") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rep").toString
    Seq(
      (1L, ("spam ham " * 40).trim),                  // one bigram dominates
      (2L, "the quick brown fox jumps over a lazy dog near nine calm rivers today"),
      (3L, "one"),                                    // single token: bigram fallback
      (4L, ("word " * 50).trim)                       // 1 distinct token
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = TextOps.textRepetitionFilter(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!rows(1L).getBoolean(4), "repeated-phrase doc must be dropped")
    assert(rows(1L).getLong(3) >= 49, "\"spam ham\" is ~half of all bigrams")
    assert(rows(2L).getBoolean(4), "diverse prose must be kept")
    assert(rows(2L).getLong(2) == 100 && rows(2L).getLong(3) <= 10)
    assert(rows(3L).getLong(1) == 1 && rows(3L).getLong(3) == 100,
      "single-token doc: whole-text bigram fallback, trivially 100%")
    assert(!rows(4L).getBoolean(4) && rows(4L).getLong(2) == 2,
      "1 distinct of 50 tokens -> floor(100/50) = 2")
  }

  test("dedup_incremental flags exactly the delta hashes absent from the base") {
    val deltaMod = 10
    val hashes = corpus.map { case (id, (_, text)) => id -> sha256Hex(norm(text)) }
    val baseHashes = hashes.collect { case (id, h) if id % deltaMod != 0 => h }.toSet
    val expected = hashes.collect { case (id, h) if id % deltaMod == 0 =>
      id -> (h, !baseHashes.contains(h))
    }
    val got = Dedup.dedupIncremental(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(got == expected.toMap)
    // sf0.001's dup templates never straddle the mod-10 boundary, so
    // every delta doc is new here; the seen-before path is exercised
    // by the crafted corpus below.
    assert(expected.nonEmpty && expected.values.forall(_._2))
  }

  test("pretrain_corpus equals the conjunction of its stage verdicts") {
    import graft.operators.TextOps
    val gopher = TextOps.textGopherFilter(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val rep = TextOps.textRepetitionFilter(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(4))).toMap
    val keepers = Dedup.dedupExactHash(spark, sf).collect().map(_.getLong(0)).toSet
    val decon = TrainingOps.decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val mix = TrainingOps.mixWeighted(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(4))).toMap
    val expected = corpus.keySet.filter { id =>
      decon.contains(id) && gopher(id) && rep(id)._2 && keepers(id) &&
        !decon(id) && mix(id)._2 >= 1
    }.toSeq.sorted.map(id => (id, mix(id)._1, rep(id)._1, mix(id)._2))
    val got = TrainingOps.pretrainCorpus(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // The pipeline must be a real funnel on this corpus: strictly
    // smaller than the input, strictly larger than empty.
    assert(got.nonEmpty && got.size < corpus.size)
  }

  test("dedup_incremental on a crafted corpus: base dup suppressed, whitespace-variant suppressed, new doc admitted") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-incr").toString
    Seq(
      (1L, "alpha beta gamma"),   // base
      (3L, "delta epsilon"),      // base
      (10L, "alpha beta gamma"),  // delta, verbatim dup of base -> not new
      (20L, "  Delta   EPSILON "),// delta, dup after normalization -> not new
      (30L, "zeta eta theta")     // delta, genuinely new
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = Dedup.dedupIncremental(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(10L -> false, 20L -> false, 30L -> true))
  }

  test("mix_temperature: exact isqrt weights, flattening upsamples the tail, budget respected") {
    import graft.operators.TrainingOps
    val out = TrainingOps.mixTemperature(spark, sf, budgetTokens = 10000).collect()
    assert(out.nonEmpty)
    val totalTokens = out.map(_.getLong(1)).sum
    out.foreach { r =>
      val (n, share, w) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(share == n * 1000000L / totalTokens)
      // exact integer sqrt: w² <= share·1e6 < (w+1)²
      val a = BigInt(share) * 1000000
      assert(BigInt(w).pow(2) <= a && BigInt(w + 1).pow(2) > a,
        s"weight $w is not isqrt($a)")
    }
    // allocations sum to <= budget (floor division can only undershoot)
    assert(out.map(_.getLong(4)).sum <= 10000L)
    // temperature flattening: the SMALLEST source's share of the
    // allocation exceeds its share of the corpus; the LARGEST's shrinks
    val smallest = out.minBy(_.getLong(1)); val largest = out.maxBy(_.getLong(1))
    if (smallest.getLong(1) < largest.getLong(1)) {
      val allocSum = out.map(_.getLong(4)).sum.toDouble
      assert(smallest.getLong(4) / allocSum > smallest.getLong(1).toDouble / totalTokens)
      assert(largest.getLong(4) / allocSum < largest.getLong(1).toDouble / totalTokens)
    }
    // epochs_x1e6 is the replication factor in micro-units
    out.foreach { r =>
      assert(r.getLong(5) == r.getLong(4) * 1000000L / r.getLong(1))
    }
  }
}
