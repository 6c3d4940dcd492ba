package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TrainingOps

/** Training-data assembly semantics: hash-split determinism and an
  * exact independent reconstruction of the sequence-packing layout.
  */
class TrainingOpsSpec extends AnyFunSuite with SparkFixture {

  test("sample_split_hash is deterministic, bucketed in [0,100), split consistent") {
    val a = TrainingOps.sampleSplitHash(spark, sf).collect()
    val b = TrainingOps.sampleSplitHash(spark, sf).collect()
    assert(a.sameElements(b), "same corpus must produce the identical split")
    a.foreach { r =>
      val bucket = r.getLong(1)
      assert(bucket >= 0 && bucket < 100)
      assert(r.getString(2) == (if (bucket < 80) "train" else "test"))
    }
    // Both sides populated at any realistic corpus size (500 docs).
    val splits = a.map(_.getString(2)).toSet
    assert(splits == Set("train", "test"))
    // The split is a function of the KEY alone: trainPct moves the
    // boundary, never reshuffles assignments.
    val strict = TrainingOps.sampleSplitHash(spark, sf, trainPct = 50)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    a.foreach { r =>
      if (strict(r.getLong(0)) == "train") assert(r.getString(2) == "train",
        "a doc in the 50% train set must also be in the 80% train set")
    }
  }

  test("pack_sequences matches an independent sequential reconstruction") {
    val ctxLen = 512
    val nShards = 8
    val out = TrainingOps.packSequences(spark, sf, ctxLen, nShards)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // Reconstruct the layout with a plain Scala fold over per-shard
    // doc_id order, from the operator's own token counts (the counts
    // themselves are oracle-checked via text_token_count's bpe_tokens).
    val docs = out.toSeq.map { case (id, (shard, n, _, _)) => (id, shard, n) }
    docs.groupBy(_._2).foreach { case (_, inShard) =>
      var cum = 0L
      inShard.sortBy(_._1).foreach { case (id, _, n) =>
        val start = cum
        cum += n
        val expFirst = start / ctxLen
        val expLast = if (n == 0) expFirst else (cum - 1) / ctxLen
        val (_, _, first, last) = out(id)
        assert(first == expFirst && last == expLast,
          s"doc $id: got ($first,$last), expected ($expFirst,$expLast)")
      }
    }
    // Shard assignment is doc_id mod nShards.
    docs.foreach { case (id, shard, _) => assert(shard == id % nShards) }
  }

  test("packing: an empty doc AT a window boundary takes its insertion point, both roads") {
    import spark.implicits._
    // crafted single-shard fixture at ctxLen=4: "a b c" fills 3 of
    // window 0; the empty doc at offset 3 sits IN window 0; "d e f g h"
    // spans windows 0-1 ending exactly at offset 8; the empty doc at
    // offset 8 is EXACTLY on the boundary — its insertion point is
    // window 2, where the naive (tok_end - 1) div ctxLen reads 1
    val docs = Seq((0L, "a b c"), (8L, ""), (16L, "d e f g h"), (24L, ""))
      .toDF("doc_id", "text")
    val batch = graft.operators.TrainingOps.packSequencesOver(docs, ctxLen = 4, nShards = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(batch(0L)  == (0L, 0L))
    assert(batch(8L)  == (0L, 0L), s"mid-window empty doc: ${batch(8L)}")
    assert(batch(16L) == (0L, 1L))
    assert(batch(24L) == (2L, 2L),
      s"boundary empty doc must take its insertion point: ${batch(24L)}")
    // the stateful road (single batch, empty initial state) agrees
    val stateful = graft.streaming.EventStreams.packSequencesStateful(docs, ctxLen = 4, nShards = 1)
      .collect().map(d => d.doc_id -> (d.first_chunk, d.last_chunk)).toMap
    assert(stateful == batch)
  }

  test("sample_stratified takes exactly ceil(pct% of n) per stratum, deterministically") {
    val pct = 10
    val out = TrainingOps.sampleStratified(spark, sf, pct).cache()
    val stratSizes = Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every stratum represented with the exact integral-ceil quota
    assert(sampled.keySet == stratSizes.keySet)
    stratSizes.foreach { case (lang, n) =>
      assert(sampled(lang) == (n * pct + 99) / 100,
        s"stratum $lang: got ${sampled(lang)} of $n")
    }
    // pure function of the key: a second run picks the identical rows
    val again = TrainingOps.sampleStratified(spark, sf, pct)
    assert(out.select("doc_id").except(again.select("doc_id")).count() == 0)
    out.unpersist()
  }

  /** Plain single-node BPE — the independent reference for bpe_train:
    * same pair counting (overlaps at every adjacent position, weighted
    * by word count), same (count desc, left, right) tie-break, same
    * greedy left-to-right merge.
    */
  private def refBpe(wordCounts: Map[String, Long], n: Int): Seq[(Long, String, String, Long)] = {
    var words = wordCounts.toSeq.map { case (w, c) =>
      (w.split("").filter(_.nonEmpty).toVector, c)
    }
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var rank = 1L
    var continue = true
    while (rank <= n && continue) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ =>
        }
      }
      if (counts.isEmpty) continue = false
      else {
        val ((l, r), pc) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((rank, l, r, pc))
        words = words.map { case (syms, c) =>
          val acc = scala.collection.mutable.ArrayBuffer[String]()
          syms.foreach { x =>
            if (acc.nonEmpty && acc.last == l && x == r) acc(acc.size - 1) = l + r
            else acc += x
          }
          (acc.toVector, c)
        }
        rank += 1
      }
    }
    out.toSeq
  }

  test("sample_reservoir: exactly k, matches a single-node md5 ranking, prefix-stable in k") {
    val k = 10
    val out = TrainingOps.sampleReservoir(spark, sf, k).collect()
    assert(out.length == k)
    assert(out.map(_.getAs[Long]("sample_rank")).toSeq == (1L to k).toSeq)
    // independent single-node reconstruction of the tag order
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expect = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).map(id => (md5hex(id.toString), id))
      .sorted.take(k).map(_._2).toSeq
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == expect)
    // reservoir property: the k-sample is a PREFIX of the 2k-sample
    val bigger = TrainingOps.sampleReservoir(spark, sf, 2 * k).collect()
      .sortBy(_.getAs[Long]("sample_rank")).take(k).map(_.getAs[Long]("doc_id")).toSeq
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == bigger)
  }

  test("bpe_train equals the single-node reference BPE; max count never increases") {
    import graft.functions.TextFunctions
    val got = TrainingOps.bpeTrain(spark, sf, nMerges = 10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val wordCounts = Tables.documents(spark, sf)
      .select(explode(TextFunctions.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = refBpe(wordCounts, 10)
    assert(got == expect, s"engine merges $got != reference $expect")
    // a merge only removes other pairs' occurrences; pairs it creates
    // occur at most as often as the merged pair did
    val counts = got.map(_._4)
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"max pair count increased across rounds: $counts")
    Caches.clear()
  }

  test("bpe_train greedy fold handles overlapping runs (aaa + (a,a) -> [aa, a])") {
    // synthetic corpus where the top pair overlaps itself: "aaa" x3
    // round 1 must pick (a,a) with count 6 (two positions per word)
    // and rewrite each word to [aa, a] (greedy non-overlap), so round
    // 2 sees (aa, a) with count 3.
    val ref = refBpe(Map("aaa" -> 3L), 2)
    assert(ref == Seq((1L, "a", "a", 6L), (2L, "aa", "a", 3L)))
  }

  test("corpus_shuffle: a seeded permutation — contiguous per-shard positions, balanced, seed-sensitive") {
    val out = TrainingOps.corpusShuffle(spark, sf).cache()
    val n = graft.Tables.documents(spark, sf).count()
    assert(out.count() == n, "every doc appears exactly once")
    // per shard: positions are exactly 1..count (a permutation, no gaps)
    val per = out.groupBy("shard").agg(
      count(lit(1)).as("c"), min("shard_pos").as("lo"), max("shard_pos").as("hi"),
      countDistinct("shard_pos").as("d"))
    assert(per.filter(col("lo") =!= 1 || col("hi") =!= col("c") || col("d") =!= col("c"))
      .count() == 0)
    // hash sharding balances: no shard above 2x the fair share
    assert(per.filter(col("c") > lit(2L * n) / 8L).count() == 0)
    // deterministic under recomputation; a different seed reorders
    val again = TrainingOps.corpusShuffle(spark, sf)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    val reseeded = TrainingOps.corpusShuffle(spark, sf, seed = 7)
    assert(out.exceptAll(reseeded).count() > 0, "a new seed must produce a new permutation")
    out.unpersist()
  }

  test("corpus_budget_select: greedy-by-quality, per-source token budget never exceeded") {
    val budget = 1000L
    val out = TrainingOps.corpusBudgetSelect(spark, sf, budget).cache()
    assert(out.count() == graft.Tables.documents(spark, sf).count(),
      "selection REPORTS every doc; selected is the verdict column")
    // selected tokens per source stay within budget
    val spent = out.filter(col("selected")).groupBy("source")
      .agg(sum("n_tokens").as("t"))
    assert(spent.filter(col("t") > budget).count() == 0)
    // greedy: an unselected doc never outranks a selected one
    // ((quality desc, doc_id) order means rejected docs sit strictly
    // after every selected doc of their source)
    val sel = out.filter(col("selected"))
      .groupBy("source").agg(min("quality_score").as("min_sel_q"),
                             max("doc_id").as("max_sel_id"))
    val bad = out.filter(!col("selected")).join(sel, "source")
      .filter(col("quality_score") > col("min_sel_q"))
    assert(bad.count() == 0, "a rejected doc with higher quality than a selected one breaks greediness")
    // quality and token definitions agree with the standalone operators
    val q = graft.operators.TextOps.textQualityScore(spark, sf)
      .select(col("doc_id"), col("quality_score").as("q2"))
    assert(out.join(q, "doc_id").filter(col("quality_score") =!= col("q2")).count() == 0)
    val t = graft.operators.TextOps.textTokenCount(spark, sf)
      .select(col("doc_id"), col("bpe_tokens"))
    assert(out.join(t, "doc_id").filter(col("n_tokens") =!= col("bpe_tokens")).count() == 0)
    out.unpersist()
  }

  test("shard_assign_balanced: exact partition, LPT-dealing balance bound, determinism") {
    val n = 8
    val out = TrainingOps.shardAssignBalanced(spark, sf, nShards = n).collect()
    val docs = Tables.documents(spark, sf).count()
    assert(out.length == docs, "every doc gets exactly one shard row")
    // size_rank is the permutation 1..n over (tokens desc, doc_id) and
    // shard is its round-robin deal
    val byRank = out.sortBy(_.getLong(2))
    assert(byRank.map(_.getLong(2)).toSeq == (1L to docs).toSeq)
    byRank.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(1) > b.getLong(1) ||
          (a.getLong(1) == b.getLong(1) && a.getLong(0) < b.getLong(0)),
          "size_rank order is not (tokens desc, doc_id)")
      case _ => ()
    }
    out.foreach(r => assert(r.getLong(3) == (r.getLong(2) - 1) % n))
    // every shard populated; token totals within one max-doc of each
    // other (the round-robin-descending telescoping bound)
    val totals = out.groupBy(_.getLong(3)).view
      .mapValues(_.map(_.getLong(1)).sum).toMap
    assert(totals.keySet == (0L until n).toSet)
    val maxDoc = out.map(_.getLong(1)).max
    assert(totals.values.max - totals.values.min <= maxDoc,
      s"token imbalance ${totals.values.max - totals.values.min} exceeds max doc $maxDoc")
    // rollup columns agree with the recomputed totals
    out.foreach { r =>
      assert(r.getLong(5) == totals(r.getLong(3)))
    }
    // a pure function of the corpus: a second run is identical
    val again = TrainingOps.shardAssignBalanced(spark, sf, nShards = n).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("corpus_epochs: copy algebra lands each source within one doc of its budget") {
    val budget = 5000L
    val out = TrainingOps.corpusEpochs(spark, sf, budgetPerSource = budget).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getBoolean(5), r.getLong(6)))
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (src, docs) =>
      val srcTokens = docs.map(_._3).sum
      val fullEpochs = budget / srcTokens
      val remainder = budget % srcTokens
      // every doc of a source agrees on full_epochs, and it is the div
      assert(docs.forall(_._4 == fullEpochs), s"$src full_epochs")
      // n_copies = full + partial-membership, nothing else
      assert(docs.forall(d => d._7 == d._4 + (if (d._6) 1L else 0L)), s"$src copies")
      // the partial epoch is a hash-order token PREFIX: its total is
      // within the remainder, and the first excluded doc would overflow it
      val partialTokens = docs.filter(_._6).map(_._3).sum
      assert(partialTokens <= remainder, s"$src partial $partialTokens > rem $remainder")
      val excluded = docs.filterNot(_._6)
      if (excluded.nonEmpty) {
        val nextCum = excluded.map(_._5).min
        assert(nextCum > remainder, s"$src: a doc under the remainder was left out")
      }
      // the plan materializes to budget minus the partial fringe
      val planned = docs.map(d => d._7 * d._3).sum
      assert(planned == fullEpochs * srcTokens + partialTokens)
      assert(planned <= budget)
    }
  }

  test("contamination_report: crafted fixture — pair counts, worst pick, clean eval row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-contam").toString
    // eval ids are multiples of 97; 8-grams are windows of 8 tokens.
    // w1..w12 gives 5 distinct 8-grams; sharing a doc PREFIX of k+7
    // tokens shares exactly k of them.
    def words(a: Int, b: Int) = (a to b).map(i => s"w$i").mkString(" ")
    Seq(
      (97L,  words(1, 12)),              // eval: 5 grams
      (1L,   words(1, 12)),              // train: identical -> shares all 5
      (2L,   words(1, 9) + " x y z"),    // train: shares grams 1-2 (prefix of 9)
      (3L,   words(50, 61)),             // train: disjoint
      (194L, words(100, 111))            // eval: clean — no train overlap
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = TrainingOps.contaminationReport(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(out.keySet == Set(97L, 194L))
    assert(out(97L) == ((2L, 7L, Some(1L), Some(5L))),
      s"doc 97 contamination: ${out(97L)}")   // 5 from doc 1 + 2 from doc 2
    assert(out(194L) == ((0L, 0L, None, None)), "clean eval doc must report zeros")
    graft.Caches.clear()
  }

  /** Reference BPE application: replay the merge list over one word,
    * same greedy left-to-right fold as the trainer.
    */
  private def refApply(word: String, merges: Seq[(String, String)]): Long = {
    var syms = word.split("").filter(_.nonEmpty).toVector
    merges.foreach { case (l, r) =>
      val acc = scala.collection.mutable.ArrayBuffer[String]()
      syms.foreach { x =>
        if (acc.nonEmpty && acc.last == l && x == r) acc(acc.size - 1) = l + r
        else acc += x
      }
      syms = acc.toVector
    }
    syms.size.toLong
  }

  test("bpe_apply: per-doc token counts equal the reference replay; fertility integral") {
    import graft.functions.TextFunctions
    val merges = TrainingOps.bpeTrain(spark, sf, 10).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val out = TrainingOps.bpeApply(spark, sf, 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val docWords = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (id, ws) => id -> ws.map(_._2).toSeq }
    assert(out.keySet == docWords.keySet)
    docWords.foreach { case (id, ws) =>
      val (nWords, nTokens, fert) = out(id)
      assert(nWords == ws.size.toLong, s"doc $id word count")
      val expect = ws.map(refApply(_, merges)).sum
      assert(nTokens == expect, s"doc $id: engine $nTokens != reference $expect")
      assert(fert == nTokens * 1000000L / nWords, s"doc $id fertility")
    }
    // more merges can only shrink (or hold) the token total
    val total10 = out.values.map(_._2).sum
    val total3 = TrainingOps.bpeApply(spark, sf, 3).agg(sum("n_bpe_tokens"))
      .head.getLong(0)
    assert(total10 <= total3, s"10-merge total $total10 > 3-merge total $total3")
    graft.Caches.clear()
  }

  test("sample_importance: acceptance matches a single-node recompute; max-length always kept") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val chars = Tables.documents(spark, sf).select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val mx = chars.map(_._2).max
    val expect = chars.filter { case (id, n) =>
      java.lang.Long.parseLong(md5hex(s"$id:imp").take(8), 16) * mx < n * 4294967296L
    }.map(_._1).toSet
    val out = TrainingOps.sampleImportance(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSet == expect)
    out.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) * 1000000L / mx, "weight_ppm")
    }
    // the max-length document has inclusion probability 1
    val maxIds = chars.filter(_._2 == mx).map(_._1).toSet
    assert(maxIds.subsetOf(out.map(_.getLong(0)).toSet),
      "P(keep)=1 rows must always survive")
  }

  test("curriculum_order: positions are a permutation, buckets non-decreasing along the order") {
    val out = TrainingOps.curriculumOrder(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.map(_._3).sorted.toSeq == (1L to out.length).toSeq,
      "curriculum_pos must be a 1..n permutation")
    val byPos = out.sortBy(_._3)
    byPos.zip(byPos.tail).foreach { case ((_, b1, _), (_, b2, _)) =>
      assert(b1 <= b2, "length buckets must be non-decreasing along the curriculum")
    }
  }
}
