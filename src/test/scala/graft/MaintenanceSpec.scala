package graft

import org.apache.spark.sql.functions._
import graft.operators.{Merge, Retrieval, Sampling}

class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)
  ).toDF("k", "name", "v")

  test("upsert updates matching keys, inserts new, keeps the rest") {
    val source = Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("k", "name", "v")
    val out = Merge.upsert(target, source, Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq === Seq(
      (1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("upsert rejects schema mismatch and empty keys") {
    val bad = Seq((2L, "b2")).toDF("k", "name")
    intercept[IllegalArgumentException] { Merge.upsert(target, bad, Seq("k")) }
    intercept[IllegalArgumentException] { Merge.upsert(target, target, Nil) }
  }

  test("applyChangeset inserts, updates, and deletes by op code") {
    val ch = Seq(
      (1L, "a2", 11.0, "U"),   // update key 1
      (3L, "c", 30.0, "D"),    // delete key 3 (payload ignored)
      (5L, "e", 50.0, "I"))    // insert new key 5
      .toDF("k", "name", "v", "op")
    val out = Merge.applyChangeset(target, ch, Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq === Seq(
      (1L, "a2", 11.0), (2L, "b", 20.0), (5L, "e", 50.0)))
  }

  test("applyChangeset validate rejects duplicate keys and unknown ops") {
    val dup = Seq((1L, "x", 1.0, "U"), (1L, "y", 2.0, "D"))
      .toDF("k", "name", "v", "op")
    intercept[IllegalArgumentException] {
      Merge.applyChangeset(target, dup, Seq("k"), validate = true)
    }
    val badOp = Seq((1L, "x", 1.0, "X")).toDF("k", "name", "v", "op")
    intercept[IllegalArgumentException] {
      Merge.applyChangeset(target, badOp, Seq("k"), validate = true)
    }
    // NULL op must fail validation too (it would otherwise silently delete)
    val nullOp = Seq((1L, "x", 1.0, Option.empty[String]))
      .toDF("k", "name", "v", "op")
    intercept[IllegalArgumentException] {
      Merge.applyChangeset(target, nullOp, Seq("k"), validate = true)
    }
    // missing op column fails fast regardless of validate
    intercept[IllegalArgumentException] {
      Merge.applyChangeset(target, target, Seq("k"))
    }
  }

  test("upsert opt-in check rejects duplicate-keyed changesets") {
    val dupSrc = Seq((2L, "x", 1.0), (2L, "y", 2.0)).toDF("k", "name", "v")
    val e = intercept[IllegalArgumentException] {
      Merge.upsert(target, dupSrc, Seq("k"), checkUniqueSourceKeys = true)
    }
    assert(e.getMessage.contains("at most one row per key"))
    // without the flag the join keeps both rows — caller's contract
    assert(Merge.upsert(target, dupSrc, Seq("k")).count() === 4)
  }

  test("upsert rejects same-name type mismatches instead of coercing") {
    // same column names, v is a string — unionByName would silently turn
    // the snapshot's double column into string without the type require.
    val bad = Seq((2L, "b2", "99.0")).toDF("k", "name", "v")
    val e = intercept[IllegalArgumentException] {
      Merge.upsert(target, bad, Seq("k"))
    }
    assert(e.getMessage.contains("type mismatch"))
  }

  test("snapshotDiff labels added/removed/changed/same") {
    val next = Seq(
      (2L, "b", 21.0),  // changed
      (3L, "c", 30.0),  // same
      (4L, "d", 40.0)   // added; key 1 removed
    ).toDF("k", "name", "v")
    val m = Merge.snapshotDiff(target, next, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m === Map(1L -> "removed", 2L -> "changed", 3L -> "same", 4L -> "added"))
  }

  test("snapshotDiff struct compare is null-safe") {
    val oldDf = Seq((1L, Option.empty[String]), (2L, Some("x"))).toDF("k", "name")
    val newDf = Seq((1L, Option.empty[String]), (2L, Option.empty[String])).toDF("k", "name")
    val m = Merge.snapshotDiff(oldDf, newDf, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m === Map(1L -> "same", 2L -> "changed"))
  }
}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark spark spark engine"),
    (2L, "spark engine"),
    (3L, "rare term appears here"),
    (4L, "nothing relevant at all whatsoever in this one long document")
  ).toDF("id", "text")

  test("bm25 scores only matching docs, tf-monotone within a term") {
    val out = Retrieval.bm25(corpus, "id", "text", Seq("spark", "rare"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    // doc 1 has higher tf of "spark" than doc 2 at comparable length
    assert(out(1L) > out(2L))
    // "rare" (df=1) outranks "spark" (df=2) at tf=1: idf dominates
    assert(out(3L) > out(2L))
    assert(out.values.forall(_ > 0.0))
  }

  test("bm25 matches a hand-computed score on a single-term corpus") {
    val one = Seq((1L, "x y"), (2L, "x")).toDF("id", "text")
    val out = Retrieval.bm25(one, "id", "text", Seq("x"), k1 = 1.2, b = 0.75)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val avgdl = 1.5; val n = 2.0; val df = 2.0
    val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def s(tf: Double, dl: Double) =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))
    assert(math.abs(out(1L) - BigDecimal(s(1, 2)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6)
    assert(math.abs(out(2L) - BigDecimal(s(1, 1)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6)
  }

  test("postings builds sorted per-term doc lists with matching df") {
    val got = Retrieval.postings(corpus, "id", "text")
      .orderBy("term").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val byTerm = got.map(t => t._1 -> t).toMap
    assert(byTerm("spark") === ("spark", 2L, "1,2"))   // deduped per doc
    assert(byTerm("rare") === ("rare", 1L, "3"))
    // df always equals the posting-list length, and lists are ascending
    got.foreach { case (_, df, plist) =>
      val ids = plist.split(",").map(_.toLong).toSeq
      assert(ids.size === df)
      assert(ids === ids.sorted)
    }
  }

  test("postings minDf prunes the hapax tail") {
    val got = Retrieval.postings(corpus, "id", "text", minDf = 2L)
      .collect().map(_.getString(0)).toSet
    assert(got === Set("spark", "engine"))
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def table = (0L until 2000L).map(i =>
    (i, if (i % 3 == 0) "a" else "b", (i % 100) + 1)).toDF("id", "s", "w")

  test("splitAssign partitions every row into exactly one split, stably") {
    import org.apache.spark.sql.functions.col
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val once = table.select(col("id"),
        Sampling.splitAssign(col("id"), splits).as("sp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // total partition: every row got a split, shares roughly honored
    assert(once.size == 2000)
    val bydRaw = once.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(bydRaw("train") > 1400 && bydRaw("train") < 1800)
    assert(bydRaw.keySet == Set("train", "val", "test"))
    // growth-stability: the same ids keep their split in a larger corpus
    val bigger = (0L until 4000L).toDF("id")
      .select(col("id"), Sampling.splitAssign(col("id"), splits).as("sp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(once.forall { case (id, sp) => bigger(id) == sp })
  }

  test("rebalanceToMix approaches target shares; binding stratum keeps all") {
    import org.apache.spark.sql.functions.col
    // skewed corpus: 667 a's vs 1333 b's; target a 50-50 mix. a is the
    // binding stratum (fewest rows per target share) and must keep 100%.
    val targets = Map("a" -> 0.5, "b" -> 0.5)
    val kept = Sampling.rebalanceToMix(table, "id", "s", targets)
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nA = table.filter(col("s") === "a").count()
    assert(kept("a") == nA, s"binding stratum must keep all rows: $kept")
    // achieved share within sampling noise of the 50/50 target
    val shareA = kept("a").toDouble / (kept("a") + kept("b"))
    assert(shareA > 0.42 && shareA < 0.58, s"achieved mix off target: $kept")
    // strata outside the target map are dropped entirely
    val dropped = Sampling.rebalanceToMix(table, "id", "s", Map("a" -> 1.0))
      .groupBy("s").count().collect().map(_.getString(0)).toSet
    assert(dropped == Set("a"))
    // partitioning-invariance: identical kept set on a different layout
    val once = Sampling.rebalanceToMix(table, "id", "s", targets)
      .select("id").as[Long].collect().sorted
    val again = Sampling.rebalanceToMix(table.repartition(13), "id", "s", targets)
      .select("id").as[Long].collect().sorted
    assert(once.sameElements(again))
  }

  test("stratifiedSample is deterministic and partitioning-invariant") {
    val rates = Map("a" -> 0.5, "b" -> 0.2)
    val once = Sampling.stratifiedSample(table, "s", "id", rates)
      .select("id").as[Long].collect().sorted
    val again = Sampling.stratifiedSample(table.repartition(13), "s", "id", rates)
      .select("id").as[Long].collect().sorted
    assert(once.sameElements(again))
    assert(once.nonEmpty)
  }

  test("stratifiedSample respects per-stratum rates (within tolerance)") {
    val kept = Sampling.stratifiedSample(table, "s", "id",
        Map("a" -> 1.0), defaultRate = 0.0)
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("a") === table.filter($"s" === "a").count())
    assert(!kept.contains("b"))
    val frac = Sampling.stratifiedSample(table, "s", "id", Map.empty, 0.3).count() /
      table.count().toDouble
    assert(frac > 0.2 && frac < 0.4, s"got $frac for rate 0.3")
  }

  test("weightedSample caps at probability 1 and scales with weight") {
    // weight == maxWeight and rate 1.0 → keep everything
    val all = Sampling.weightedSample(table, "id", lit(600.0), 1.0, 600.0)
    assert(all.count() === table.count())
    // heavier rows survive more often
    val kept = Sampling.weightedSample(table, "id", $"w".cast("double"), 0.9, 100.0)
    val meanKept = kept.agg(avg("w")).head.getDouble(0)
    val meanAll = table.agg(avg("w")).head.getDouble(0)
    assert(meanKept > meanAll, s"$meanKept should exceed $meanAll")
  }

  test("hashUniform lands in [0,1) and is stable per id") {
    val u = table.select(Sampling.hashUniform($"id").as("u"))
      .agg(min("u"), max("u")).head
    assert(u.getDouble(0) >= 0.0 && u.getDouble(1) < 1.0)
  }

  test("compliance purge: audit arithmetic holds and the cascade reaches lineitem") {
    val rows = graft.queries.MaintenanceQueries
      .queries("o_purge")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq("customer", "lineitem", "orders"))
    rows.foreach { case (t, before, deleted, after) =>
      assert(before == deleted + after, s"$t audit must balance")
      assert(deleted > 0, s"$t must lose rows — fixture has victims")
    }
  }

  test("temperature mix: shares sum to 1, low-resource langs boosted") {
    val rows = graft.queries.MaintenanceQueries
      .queries("t_mix_temperature")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length > 1)
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-4, "raw shares sum to 1")
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4, "temp shares sum to 1")
    // α < 1 flattens the distribution: the largest share is downweighted,
    // the smallest upweighted
    val largest = rows.maxBy(_._2)
    val smallest = rows.minBy(_._2)
    assert(largest._4 < 1.0, s"largest lang ${largest._1} must be boosted < 1")
    assert(smallest._4 > 1.0, s"smallest lang ${smallest._1} must be boosted > 1")
  }
}

class SkippingIndexSpec extends SparkSpec {
  import graft.io.SkippingIndex

  test("range-clustered layout: narrow predicate opens strictly fewer files") {
    val out = graft.io.Scratch.dir(spark, "skiptest")
    graft.core.Tables.load(spark, sf, "lineitem")
      .repartitionByRange(8, col("l_extendedprice"))
      .write.mode("overwrite").parquet(out)
    val stats = SkippingIndex.build(spark, out, Seq("l_extendedprice"))
    val total = stats.count()
    assert(total >= 2, "fixture must produce multiple part files")
    val cand = SkippingIndex.candidateFiles(stats,
      Seq((Some(1000.0), Some(2000.0))))
    assert(cand.nonEmpty && cand.size < total,
      s"narrow range must skip files: ${cand.size} of $total read")
    // skipping is performance-only: pruned scan == full-scan filter
    val pruned = SkippingIndex
      .prunedRead(spark, stats, out, "l_extendedprice", 1000.0, 2000.0)
    val full = spark.read.parquet(out)
      .filter(col("l_extendedprice").between(1000.0, 2000.0))
    assert(pruned.count() === full.count())
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("a range below every file's minimum reads zero files") {
    val out = graft.io.Scratch.dir(spark, "skiptest0")
    graft.core.Tables.load(spark, sf, "lineitem")
      .limit(100).write.mode("overwrite").parquet(out)
    val stats = SkippingIndex.build(spark, out, Seq("l_extendedprice"))
    assert(SkippingIndex.candidateFiles(stats,
      Seq((Some(-500.0), Some(-100.0)))).isEmpty)
    assert(SkippingIndex
      .prunedRead(spark, stats, out, "l_extendedprice", -500.0, -100.0)
      .isEmpty)
  }
}

class SortedExportSpec extends SparkSpec {

  test("sorted export: files internally ordered with disjoint ranges, no driver funnel") {
    val out = graft.io.Scratch.dir(spark, "sorted_export_spec")
    val df = graft.core.Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars")
      .repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions("doc_id")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning") && !p.contains("SinglePartition"),
      s"global order must come from range partitioning, not one partition:\n$p")
    df.write.mode("overwrite").parquet(out)
    // per-file (min, max, sortedness) via one pass over input_file_name
    val stats = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(stats.length >= 2, "fixture must produce multiple files")
    stats.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 < lo2, s"file ranges must be disjoint: $stats")
    }
    // in-file order: per file, doc_ids re-read in order equal their sort
    import spark.implicits._
    val perFile = spark.read.parquet(out)
      .select(input_file_name().as("f"), col("doc_id")).as[(String, Long)]
      .collect().groupBy(_._1).values
    perFile.foreach { rows =>
      val ids = rows.map(_._2).toSeq
      assert(ids == ids.sorted, "rows inside each file must be ordered")
    }
  }
}
