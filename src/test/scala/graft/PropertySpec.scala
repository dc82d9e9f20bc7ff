package graft

import scala.collection.mutable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.{Catalog, EditorSession, Positional, Tables}
import graft.ops.CellOps

/** Property-based laws from SURVEY.md §5.3: positional invariants, edit-log
  * laws, cast-rejection laws. Spark actions are expensive, so each law
  * samples a handful of seeded ScalaCheck cases over the nation table
  * (25 rows) instead of the default 100 (the raw scalacheck runner — the
  * scalatest bridge artifact is not in the offline cache).
  */
class PropertySpec extends SparkSpec {

  /** Deterministic generator sampling (seeded — reproducible failures). */
  private def forAll[A](g: Gen[A], n: Int = 5)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private def nationSession() = EditorSession.fromDataFrame(
    Tables.load(spark, sf, "nation"), Seq("n_nationkey"))

  private def positions(s: EditorSession): Seq[Long] =
    s.current.orderBy("__pos").select("__pos").collect().map(_.getLong(0)).toSeq

  test("law: __pos stays dense 0..n-1 after any delete set") {
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 24L))) { dels =>
      val s = nationSession()
      s.deleteRows(dels.distinct)
      val got = positions(s)
      assert(got == (0L until (25 - dels.distinct.size)))
    }
  }

  test("law: cut then paste at the cut point is identity") {
    forAll(Gen.zip(Gen.choose(0L, 24L), Gen.choose(1, 4))) { case (start, len) =>
      val block = (start until math.min(25L, start + len))
      val s = nationSession()
      val before = s.current.orderBy("__pos").select("n_name")
        .collect().map(_.getString(0)).toSeq
      s.cut(block)
      assert(s.paste(start))
      val after = s.current.orderBy("__pos").select("n_name")
        .collect().map(_.getString(0)).toSeq
      assert(after == before)
      assert(positions(s) == (0L until 25))
    }
  }

  test("law: rejected cast never mutates state") {
    forAll(Gen.zip(Gen.choose(0L, 24L), Gen.alphaStr.suchThat(x =>
      scala.util.Try(x.trim.toInt).isFailure))) { case (pos, junk) =>
      val s = nationSession()
      val before = s.current.orderBy("__pos").collect().toSeq
      assert(!s.setCell(pos, "n_regionkey", junk))
      assert(s.current.orderBy("__pos").collect().toSeq == before)
    }
  }

  test("law: setCell is last-write-wins per cell") {
    forAll(Gen.zip(Gen.choose(0L, 24L), Gen.choose(0, 99), Gen.choose(0, 99))) {
      case (pos, v1, v2) =>
        val s = nationSession()
        assert(s.setCell(pos, "n_regionkey", v1.toString))
        assert(s.setCell(pos, "n_regionkey", v2.toString))
        val got = s.current.filter(col("__pos") === pos)
          .select("n_regionkey").head.getInt(0)
        assert(got == v2)
    }
  }

  test("law: castStrict round-trips rendered values for primitive types") {
    val cases = Seq[(DataType, Gen[String])](
      IntegerType -> Gen.choose(Int.MinValue, Int.MaxValue).map(_.toString),
      LongType -> Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString),
      BooleanType -> Gen.oneOf("true", "false"))
    cases.foreach { case (dt, gen) =>
      forAll(gen) { s =>
        val v = CellOps.castStrict(s, dt)
        assert(v.isSuccess && v.get.toString == s)
      }
    }
  }

  test("law: any gesture sequence fully undone restores the original table") {
    // gestures: 0 = cell edit, 1 = delete, 2 = cut+paste, 3 = bool-ish edit
    val gestureGen = Gen.listOfN(6,
      Gen.zip(Gen.choose(0, 3), Gen.choose(0L, 20L), Gen.choose(0, 99)))
    forAll(gestureGen, n = 3) { gestures =>
      val s = nationSession()
      val before = s.current.orderBy("__pos").collect().toSeq
      var applied = 0
      gestures.foreach { case (kind, pos, v) =>
        kind match {
          case 0 => if (s.setCell(pos, "n_regionkey", v.toString)) applied += 1
          case 1 => if (s.deleteRows(Seq(pos))) applied += 1
          case 2 => if (s.cut(Seq(pos))) applied += 1
                    if (s.paste(pos)) applied += 1
          case 3 => if (s.setCell(pos, "n_name", s"N$v")) applied += 1
        }
      }
      (0 until applied).foreach(i => assert(s.undo(), s"undo $i of $applied"))
      assert(!s.undo(), "history should be exhausted")
      assert(s.current.orderBy("__pos").collect().toSeq == before)
      assert(s.rowCount == before.size)
    }
  }

  test("law: broadcast-join edit application equals the literal-map path") {
    // >32 DISTINCT positions so EditorSession.current actually takes the
    // editJoin (broadcast) path — results must match last-write-wins exactly
    forAll(Gen.listOfN(60, Gen.zip(Gen.choose(0L, 49L), Gen.choose(0, 999))), n = 3) { edits0 =>
      // guarantee the threshold is crossed whatever the generator drew
      val edits = edits0 ++ (0L until 40L).map(p => (p, 777))
      val s = EditorSession.fromDataFrame(
        Tables.load(spark, sf, "orders").limit(60), Seq("o_orderkey"))
      edits.foreach { case (p, v) =>
        assert(s.setCell(p, "o_custkey", v.toString))
      }
      assert(s.pendingEdits > EditorSession.literalEditMax,
        "test must exercise the broadcast-join path")
      // reference semantics: last write per position wins
      val expect = edits.groupBy(_._1).map { case (p, vs) => p -> vs.last._2 }
      val got = s.current.orderBy("__pos")
        .select("__pos", "o_custkey").collect()
        .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      expect.foreach { case (p, v) =>
        assert(got(p) == v, s"pos $p: expected $v got ${got(p)}")
      }
    }
  }

  test("law: crossing literalEditMax in one burst leaves table semantics unchanged") {
    // one burst at k = max-1, max, max+1, max+2 distinct positions: the
    // first two resolve through the literal-map projection, the last two
    // through the broadcast hash join. All four must match the same
    // independently computed expected table — pinning the switchover as
    // invisible to callers.
    val max = EditorSession.literalEditMax
    val baseline = Tables.load(spark, sf, "orders").limit(60)
      .orderBy("o_orderkey").select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    forAll(Gen.pick(max + 2, 0L until 60L), n = 2) { picked =>
      (max - 1 to max + 2).foreach { k =>
        val positions = picked.take(k).toSeq
        val s = EditorSession.fromDataFrame(
          Tables.load(spark, sf, "orders").limit(60), Seq("o_orderkey"))
        assert(s.setCells("o_custkey",
          positions.map(p => p -> (900000L + p).toString)))
        assert(s.pendingEdits == k)
        val expect = baseline.zipWithIndex.map { case ((ok, cust), pos) =>
          ok -> (if (positions.contains(pos.toLong)) 900000L + pos else cust)
        }.toMap
        val got = s.current.select("o_orderkey", "o_custkey").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expect, s"k=$k (boundary $max) diverged from expected table")
      }
    }
  }

  test("law: binned range join equals the naive non-equi join on random data") {
    val gen = Gen.zip(
      Gen.listOfN(12, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 400L),
        Gen.choose(1L, 150L))),
      Gen.listOfN(30, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 500L))))
    forAll(gen, n = 3) { case (ivRaw, ptRaw) =>
      import spark.implicits._
      val iv = ivRaw.zipWithIndex
        .map { case ((k, lo, w), i) => (i.toLong, k, lo, lo + w) }
        .toDF("iid", "k", "lo", "hi")
      val pt = ptRaw.zipWithIndex.map { case ((k, p), i) => (i.toLong, k, p) }
        .toDF("pid", "k", "pt")
      val binned = graft.operators.RangeJoin.pointInInterval(
          pt, iv, Seq("k"), "pt", "lo", "hi", binWidth = 64L)
        .select("iid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val naive = pt.as("p").join(iv.as("i"),
          col("p.k") === col("i.k") && col("lo") <= col("pt") && col("pt") < col("hi"))
        .select("iid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(binned == naive, s"missing ${naive -- binned}, extra ${binned -- naive}")
    }
  }

  test("law: renumber is idempotent and order-preserving") {
    forAll(Gen.listOfN(8, Gen.choose(0L, 24L))) { keep =>
      val base = Positional.attachPos(
        Tables.load(spark, sf, "nation"), col("n_nationkey"))
      val holey = base.filter(col("__pos").isInCollection(keep.distinct))
      val once = Positional.renumber(holey)
      val keys = once.orderBy("__pos").select("n_nationkey")
        .collect().map(_.getInt(0)).toSeq
      assert(keys == keys.sorted)
      assert(once.select("__pos").collect().map(_.getLong(0)).sorted.toSeq ==
        (0L until keep.distinct.size))
    }
  }

  test("law: passageDedup conserves passages — Σ n_kept = |distinct passages|") {
    import spark.implicits._
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    val docGen = Gen.listOfN(7, word).map(_.mkString(" "))
    forAll(Gen.listOfN(6, docGen)) { texts =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = graft.operators.CorpusSignals.passageDedup(
        d, "doc_id", "text", window = 2).collect()
      val keptTotal = out.map(_.getLong(2)).sum
      // every distinct passage survives exactly once corpus-wide
      val distinctPassages = d
        .select(explode(org.apache.spark.sql.functions.transform(
          sequence(lit(0), lit(3)),
          i => array_join(slice(split(col("text"), " "), i * 2 + 1, lit(2)), " ")))
          .as("p"))
        .filter(col("p") =!= "").distinct().count()
      assert(keptTotal == distinctPassages,
        s"kept $keptTotal != distinct $distinctPassages for $texts")
    }
  }

  test("law: applyChangeset row-count arithmetic holds for disjoint-keyed deltas") {
    import spark.implicits._
    val tgt = (0L until 20L).map(k => (k, k * 2)).toDF("k", "v")
    forAll(Gen.zip(
      Gen.someOf(0L until 20L),            // deletes from target
      Gen.someOf(20L until 30L))) { case (delsRaw, insRaw) =>
      val dels = delsRaw.toSeq.distinct
      val ins = insRaw.toSeq.distinct
      val ch = (dels.map(k => (k, 0L, "D")) ++ ins.map(k => (k, k, "I")))
        .toDF("k", "v", "op")
      // no non-empty guard: the empty changeset must be the identity
      val out = graft.operators.Merge.applyChangeset(
        tgt, ch, Seq("k"), validate = true)
      assert(out.count() == 20 - dels.size + ins.size)
      // deletes gone, inserts present
      val keys = out.select("k").collect().map(_.getLong(0)).toSet
      assert(dels.forall(!keys(_)) && ins.forall(keys(_)))
    }
  }

  test("law: intervalOverlap equals the naive join on random interval sets") {
    import spark.implicits._
    val iv = Gen.zip(Gen.choose(0L, 50L), Gen.choose(0L, 12L))
      .map { case (s, len) => (s, s + len) }
    forAll(Gen.zip(Gen.listOfN(8, iv), Gen.listOfN(8, iv))) { case (ls, rs) =>
      val l = ls.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("lid", "s_i", "e_i")
      val r = rs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("rid", "s_j", "e_j")
      val binned = graft.operators.RangeJoin.intervalOverlap(
          l, r, Nil, "s_i", "e_i", "s_j", "e_j", binWidth = 5L)
        .select("lid", "rid").collect()
        .map(x => (x.getLong(0), x.getLong(1)))
      val naive = l.crossJoin(r)
        .filter(col("s_i") <= col("e_j") && col("s_j") <= col("e_i"))
        .select("lid", "rid").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(binned.length == binned.toSet.size, s"dup pair in ${binned.toSeq}")
      assert(binned.toSet == naive)
    }
  }

  test("law: the mutation-log fold equals a brute-force replay of the gestures") {
    // gestures: 0 = setCells, 1 = deleteRows, 2 = cut + paste,
    // 3 = appendRows, 4 = column add; the ints pick positions and sizes
    val gestureGen = Gen.listOfN(10,
      Gen.zip(Gen.choose(0, 4), Gen.listOfN(4, Gen.choose(0, 1 << 20))))
    var spans = 0
    var folded = 0
    forAll(gestureGen, n = 4) { gestures =>
      val s = nationSession()
      // the reference model: each epoch's rows as a Vector of row tags in
      // position order; a pasted or appended row gets a fresh tag
      var rows = Vector.range(0, 25)
      var nextTag = 25
      def fresh(k: Int): Vector[Int] = {
        nextTag += k; Vector.range(nextTag - k, nextTag)
      }
      val states = mutable.LinkedHashMap(s.epoch -> rows)
      // per epoch: (tags edited, columns named, rows deleted)
      val logged = mutable.HashMap.empty[Long, (Set[Int], Set[String], Int)]
      def log(edited: Set[Int], cols: Set[String], deleted: Int): Unit = {
        logged(s.epoch) = (edited, cols, deleted); states(s.epoch) = rows
      }
      gestures.foreach { case (kind, r) =>
        def pos(i: Int): Long = (r(i) % rows.size).toLong
        kind match {
          case 0 =>
            val ps = (1 to 1 + r(0) % 3).map(pos) // may repeat a row
            val c = if (r(0) % 2 == 0) "n_name" else "n_regionkey"
            assert(s.setCells(c, ps.map(p => (p, (p % 5).toString))))
            log(ps.map(p => rows(p.toInt)).toSet, Set(c), 0)
          case 1 | 2 if rows.size > 8 =>
            val ps = (1 to 1 + r(0) % 3).map(pos).distinct
            val gone = ps.map(p => rows(p.toInt)).toSet
            assert(if (kind == 1) s.deleteRows(ps) else s.cut(ps))
            rows = rows.filterNot(gone)
            log(Set.empty, Set.empty, ps.size)
            if (kind == 2) {
              val at = r(3) % (rows.size + 1)
              assert(s.paste(at.toLong))
              rows = rows.take(at) ++ fresh(ps.size) ++ rows.drop(at)
              log(Set.empty, Set.empty, 0)
            }
          case 3 =>
            val k = 1 + r(0) % 3
            assert(s.appendRows(Positional.strip(s.current).limit(k)) == k)
            rows = rows ++ fresh(k)
            log(Set.empty, Set.empty, 0)
          case _ => // a column add, also when the table is too small to cut
            val name = s"extra${s.epoch}"
            s.insertColumnAt(1, s"$name double")
            log(Set.empty, Set(name), 0)
        }
      }
      assert(s.rowCount == rows.size)
      val epochs = states.keys.toSeq
      for (a <- epochs; b <- epochs if a < b) {
        spans += 1
        s.deltaSince(a, b).foreach { d =>
          folded += 1
          val (before, after) = (states(a), states(b))
          val inSpan = logged.collect { case (e, g) if e > a && e <= b => g }
          val edited = inSpan.flatMap(_._1).toSet
          val ctx = s"span ($a, $b] of $gestures"
          assert(d.insertedPos == after.indices
            .filterNot(i => before.contains(after(i))).map(_.toLong), ctx)
          assert(d.deletedPos == before.indices
            .filterNot(i => after.contains(before(i))).map(_.toLong), ctx)
          assert(d.updatedPos == after.indices
            .filter(i => before.contains(after(i)) && edited(after(i)))
            .map(i => (i.toLong, before.indexOf(after(i)).toLong)), ctx)
          assert(d.dirtyCols == inSpan.flatMap(_._2).toSet, ctx)
          assert(d.deleteCount == inSpan.map(_._3).sum, ctx)
        }
      }
    }
    assert(folded >= 0.8 * spans,
      s"only $folded of $spans spans folded: the law would pass vacuously")
  }

  test("law: 1-, 2- and 3-D clustered layouts answer random boxes like the live filter") {
    val dims = Seq("o_totalprice", "o_custkey", "o_orderdate")
    val cat = new Catalog(spark, None, deltaMaxRowsOverride = Some(2))
    cat.open("lawc", s"$sf/orders.parquet", orderCols = Seq("o_orderkey"))
    val s = cat.get("lawc").get
    cat.buildRangedLayout("lawc", dims(0), files = 8,
      idCol = Some("o_orderkey"))
    cat.buildZOrderedLayout("lawc", dims.take(2), files = 8,
      idCol = Some("o_orderkey"))
    cat.buildZOrderedLayout("lawc", dims, files = 8,
      idCol = Some("o_orderkey"))
    def layout(n: Int) = cat.layoutsOf("lawc").collectFirst {
      case (_, l: Catalog.ClusteredLayout) if l.dims.length == n => l
    }.get
    val slots = Seq("range:o_totalprice", "zorder:o_totalprice,o_custkey",
      "zorder3:o_custkey,o_orderdate,o_totalprice")

    // a box is one optional (lo, hi) per leading dimension; the values
    // are a price, a customer key and a whole-day instant
    type Box = Seq[(String, Option[Any], Option[Any])]
    val mm = Positional.strip(s.current).agg(min(dims(0)), max(dims(0)),
      min(dims(1)), max(dims(1)), min(dims(2)), max(dims(2))).head()
    val (pLo, pHi) = (mm.getDouble(0), mm.getDouble(1))
    val (cLo, cHi) = (mm.getLong(2), mm.getLong(3))
    val (dLo, dHi) = (mm.getTimestamp(4).getTime / 86400000L,
      mm.getTimestamp(5).getTime / 86400000L)
    def at(d: Int, f: Double): Any = d match {
      case 0 => math.rint((pLo + f * (pHi - pLo)) * 100) / 100
      case 1 => cLo + math.round(f * (cHi - cLo))
      case _ => java.time.Instant.ofEpochSecond(
        (dLo + math.round(f * (dHi - dLo))) * 86400L)
    }
    // box 0 is empty (beyond the first dimension's data), box 1 is
    // one-sided on every dimension, the rest draw a random width per
    // dimension and leave a side open one time in four
    def boxes(n: Int, seed: Long): Seq[Box] = {
      val r = new scala.util.Random(seed)
      (0 until 4).map { i =>
        (0 until n).map { d =>
          val w = 0.05 + 0.35 * r.nextDouble()
          val lo = r.nextDouble() * (1 - w)
          val (fLo, fHi) = if (i == 0 && d == 0) (1.5, 2.0) else (lo, lo + w)
          val open = if (i == 1) 1 + r.nextInt(2)
            else if (i > 1 && r.nextInt(4) == 0) 1 + r.nextInt(2) else 0
          (dims(d), if (open == 1) None else Some(at(d, fLo)),
            if (open == 2) None else Some(at(d, fHi)))
        }
      }
    }
    def live(box: Box) = box.foldLeft(Positional.strip(s.current)) {
      case (df, (c, lo, hi)) =>
        val withLo = lo.fold(df)(v => df.filter(col(c) >= lit(v)))
        hi.fold(withLo)(v => withLo.filter(col(c) <= lit(v)))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val farLo = Seq[Any](-1e18, Long.MinValue,
      java.time.Instant.parse("1000-01-01T00:00:00Z"))
    val farHi = Seq[Any](1e18, Long.MaxValue,
      java.time.Instant.parse("3000-01-01T00:00:00Z"))
    def sqlLit(v: Any): String = v match {
      case i: java.time.Instant =>
        s"TIMESTAMP '${i.toString.stripSuffix("Z").replace('T', ' ')}'"
      case other => other.toString
    }
    var pruning = 0
    var total = 0
    def checkAll(state: String, seed: Long): Unit = (1 to 3).foreach { n =>
      val l = layout(n)
      val nFiles = l.stats.count()
      boxes(n, seed + n).foreach { box =>
        val ctx = s"$state, ${n}-D box $box"
        val want = rows(live(box))
        // the typed entry point: an open side is a bound past the data
        val typed = box.zipWithIndex.map { case ((c, lo, hi), d) =>
          (c, lo.getOrElse(farLo(d)), hi.getOrElse(farHi(d)))
        }
        val got =
          if (n == 1) cat.rangeScan("lawc", typed.head._1, typed.head._2,
            typed.head._3)
          else cat.rangeScanBox("lawc", typed)
        assert(cat.recentRoutes.last ==
          Catalog.RouteReport(slots(n - 1), "layout", "routed"), ctx)
        assert(rows(got) == want, ctx)
        // SQL text: an open side is simply absent
        val where = box.flatMap { case (c, lo, hi) =>
          lo.map(v => s"$c >= ${sqlLit(v)}").toSeq ++
            hi.map(v => s"$c <= ${sqlLit(v)}")
        }.mkString(" AND ")
        val viaSql = cat.sql(s"SELECT * FROM lawc WHERE $where")
        assert(cat.recentRoutes.last ==
          Catalog.RouteReport(slots(n - 1), "layout", "sql-routed"),
          s"$ctx: $where")
        assert(rows(viaSql) == want, s"$ctx: $where")
        total += 1
        if (graft.io.SkippingIndex.candidateFiles(l.stats,
              box.map(b => (b._2, b._3))).size < nFiles) pruning += 1
      }
    }
    checkAll("built", 100L)

    // bounded edits inside one corner of the box space (low customer
    // keys, early dates, cheapest first), so every layout patches and
    // later folds only the files that corner touches
    val corner = Positional.strip(s.current)
      .filter(col(dims(1)) <= lit(at(1, 0.3)) && col(dims(2)) <= lit(at(2, 0.3)))
      .orderBy(dims(0)).select("o_orderkey").limit(24)
      .collect().map(_.getLong(0)).toSeq
    def posOf(id: Long): Long = s.current.filter(col("o_orderkey") === id)
      .select(Positional.POS).head().getLong(0)
    val built = (1 to 3).map(layout(_).path)
    assert(s.setCells(dims(0), Seq(posOf(corner(0)) -> "1500.25")))
    assert(s.deleteRow(posOf(corner(1))))
    cat.refreshStale("lawc")
    (1 to 3).foreach { n =>
      assert(layout(n).patch.isDefined && layout(n).path == built(n - 1),
        s"${n}-D: bounded DML must patch the base, not re-cluster")
    }
    checkAll("patched", 200L)

    // two-row edit cycles grow the patch past the merge bound
    corner.drop(2).grouped(2).takeWhile(_ => layout(1).patch.isDefined)
      .foreach { ids =>
        assert(s.setCells("o_orderstatus", ids.map(id => posOf(id) -> "Q")))
        cat.refreshStale("lawc")
      }
    (1 to 3).foreach { n =>
      assert(layout(n).patch.isEmpty &&
        layout(n).path.contains("_pc_"),
        s"${n}-D: past the bound the patch must fold file-locally; " +
          s"path ${layout(n).path}")
    }
    checkAll("folded", 300L)
    assert(2 * pruning >= total,
      s"only $pruning of $total boxes read fewer files than the layout " +
        "holds: the law would pass without the index doing any work")
  }

  test("law: a refresh's incremental manifest digest equals the full digest; a cold reopen re-attaches") {
    import org.apache.spark.sql.DataFrame
    import graft.core.LayoutStore
    val root = java.nio.file.Files.createTempDirectory("law_digest").toString
    val wh = s"$root/wh"
    // embeddings with a group column, a unique price, a map-typed column,
    // a NULL id (was 7) and a duplicate id (9 became 8)
    val src = Tables.load(spark, sf, "embeddings")
      .withColumn("grp", (col("vec_id") % 3).cast("string"))
      .withColumn("price", col("vec_id").cast("double") * 1.5 + 10.0)
      .withColumn("tags", map(lit("k"), col("label")))
      .withColumn("vec_id", when(col("vec_id") === 7L, lit(null).cast("long"))
        .when(col("vec_id") === 9L, lit(8L)).otherwise(col("vec_id")))
    val cat = new Catalog(spark, Some(wh))
    cat.openFrom("lawd", src, Seq("price"))
    val s = cat.get("lawd").get
    cat.buildCubeLayout("lawd", Seq("grp"), Seq("label", "price"))
    cat.buildPairsLayout("lawd", Seq("grp"), "label")
    cat.buildRangedLayout("lawd", "price", files = 4, idCol = Some("vec_id"))
    cat.buildPqLayout("lawd", "vec_id", "embedding")

    // the digest as the manifest format defines it, computed in full
    def fullDigest(df: DataFrame, cols: Seq[String]): String = {
      val hs = (if (cols.isEmpty) df.columns.toSeq else cols).map(c =>
        if (df.schema(c).dataType.isInstanceOf[MapType]) to_json(col(c))
        else col(c))
      val r = df.agg(sum(xxhash64(hs: _*).cast("decimal(38,0)")),
        count(lit(1))).head()
      s"${Option(r.get(0)).getOrElse(0)}:${r.getLong(1)}"
    }
    def digestCols(e: graft.core.LayoutManifestEntry): Seq[String] =
      e.kind match {
        case "pq" => Seq(e.idCol.get, e.valueCol.get)
        case "cube" => e.groupCols.get ++ e.measures.get
        case "pairs" => e.groupCols.get :+ e.valueCol.get
        case _ => Seq.empty // clustered: every column
      }

    def gesture(r: scala.util.Random): String = {
      val n = s.rowCount
      def somePos(k: Int) = Seq.fill(k)((r.nextDouble() * n).toLong).distinct
      r.nextInt(7) match {
        case 0 => // cube measure and pairs column
          assert(s.setCells("label", somePos(1 + r.nextInt(3))
            .map(_ -> r.nextInt(10).toString))); "label"
        case 1 => // cube measure and the clustered dimension
          assert(s.setCells("price", somePos(2)
            .map(_ -> f"${10 + r.nextInt(900)}.25"))); "price"
        case 2 => // id edit: a fresh id, or a duplicate of an existing one
          val id = if (r.nextBoolean()) 500000L + r.nextInt(1000) else 8L
          assert(s.setCells("vec_id", somePos(1).map(_ -> id.toString)))
          "id"
        case 3 =>
          assert(s.deleteRows(somePos(1 + r.nextInt(3)))); "delete"
        case 4 => // copies of two rows, one keeping its id
          val at = somePos(2)
          val rows = Positional.strip(s.current
              .filter(col(Positional.POS).isin(at: _*)))
            .withColumn("vec_id",
              if (r.nextBoolean()) col("vec_id") else col("vec_id") + 700000L)
          s.appendRows(rows); "insert"
        case 5 => // a NULL id: the keyed layouts rebuild
          s.setNull(somePos(1).head, "vec_id"); "null-id"
        case _ => // a group column edit: the grouped layouts rebuild
          assert(s.setCells("grp", somePos(1).map(_ -> "9"))); "grp"
      }
    }

    var refreshes = 0
    var incremental = 0
    Seq(7L, 8L).foreach { seed =>
      val r = new scala.util.Random(seed)
      (1 to 6).foreach { step =>
        val what = (1 to 1 + r.nextInt(2)).map(_ => gesture(r)).mkString("+")
        val ctx = s"seed $seed step $step ($what)"
        val inc0 = cat.incrementalDigests.get
        cat.refreshStale("lawd")
        refreshes += 1
        if (cat.incrementalDigests.get > inc0) incremental += 1
        val live = Positional.strip(s.current)
        val entries = LayoutStore.load(spark, wh).filter(_.session == "lawd")
        assert(entries.size == 4, ctx)
        entries.foreach { e =>
          assert(e.digest == fullDigest(live, digestCols(e)), s"$ctx: ${e.slot}")
        }
        // a cold process over the same warehouse and the same rows
        val snap = s"$root/snap_${seed}_$step.parquet"
        live.write.parquet(snap)
        val cold = new Catalog(spark, Some(wh))
        cold.open("lawd", snap, Seq("price"))
        assert(!cold.recentRoutes.exists(_.reason == "digest-mismatch"), ctx)
        assert(cold.layoutsOf("lawd").map(_._1).toSet ==
          entries.map(_.slot).toSet, ctx)
        cold.close("lawd")
      }
    }
    assert(2 * incremental >= refreshes,
      s"only $incremental of $refreshes refreshes moved a digest " +
        "incrementally: the law would pass through the full digest alone")
  }
}
