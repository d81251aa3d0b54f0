package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Semantic witnesses for the round-11 query additions. All three are
  * DuckDB-oracled (the oracle pins cross-engine value equality); these
  * specs pin the MATHEMATICAL invariants the oracle can't express —
  * properties that must hold for any input, not just the fixture values.
  */
class QueryWitnessSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("containment dominates jaccard on every LSH candidate pair, equal only when |A|=|B|") {
    val s = spark
    import s.implicits._
    // Rebuild both scores un-thresholded over the SAME candidate set the
    // registered queries use, so the dominance law is checked on every
    // pair the pipeline would ever score, not just the ones that survive
    // the registered cuts.
    graft.queries.DedupQueries
      .scorePairs(s, Tables.documents(s, sf))
      .as[(Long, Long, Int, Int, Int)]
      .collect()
      .tap(_ should not be empty)
      .foreach { case (a, b, nInter, nA, nB) =>
        val jac = nInter.toDouble / (nA + nB - nInter)
        val con = nInter.toDouble / math.min(nA, nB)
        withClue(s"pair ($a,$b): ") {
          con should be >= jac
          if (nA == nB) con shouldBe jac +- 1e-12
          else if (nInter > 0) con should be > jac
        }
      }
  }

  test("containment scores a strict shingle subset as exactly 1.0 while jaccard stays below it") {
    val s = spark
    import s.implicits._
    // A is a strict prefix of B -> A's 3-shingle set is a strict subset
    // of B's: the quote/subset case the containment query exists for.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ).toDF("doc_id", "text")
    val scored = graft.queries.DedupQueries.scoreAllPairs(s, docs).as[(Long, Long, Int, Int, Int)].collect()
    scored should have size 1
    val (_, _, nInter, nA, nB) = scored.head
    nInter shouldBe nA // subset: every A-shingle is in B
    nInter.toDouble / math.min(nA, nB) shouldBe 1.0
    nInter.toDouble / (nA + nB - nInter) should be < 1.0
  }

  test("text_ppl_buckets: per-language terciles are balanced and mean NLL is monotone in bucket") {
    val s = spark
    import s.implicits._
    val rows = SparkEntry.queries("text_ppl_buckets")(s, sf)
      .as[(String, Int, Long, Double)]
      .collect()
      .groupBy(_._1)
    rows.keySet should not be empty
    rows.foreach { case (lang, byLang) =>
      withClue(s"lang=$lang: ") {
        byLang.map(_._2).sorted shouldBe Array(1, 2, 3)
        // ntile balance: bucket sizes differ by at most 1
        val sizes = byLang.sortBy(_._2).map(_._3)
        (sizes.max - sizes.min) should be <= 1L
        // ordered by ascending avg_nll -> bucket means must not decrease
        val means = byLang.sortBy(_._2).map(_._4)
        means.zip(means.tail).foreach { case (lo, hi) => lo should be <= hi }
      }
    }
  }

  test("text_blocklist_mask: n_masked totals the corpus blocklist hits; hash changes iff a mask fired") {
    val s = spark
    import s.implicits._
    val masked = SparkEntry.queries("text_blocklist_mask")(s, sf)
      .as[(Long, Int, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val docs = Tables.documents(s, sf).select("doc_id", "text").as[(Long, String)].collect()
    docs.length shouldBe masked.size
    val block = Set("slow", "big")
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val (nMasked, hash) = masked(id)
      nMasked shouldBe toks.count(block)
      // independent recomputation of the masked text -> same md5
      val expected = toks.map(w => if (block(w)) "<masked>" else w).mkString(" ")
      hash shouldBe java.security.MessageDigest.getInstance("MD5")
        .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (nMasked == 0) hash shouldBe java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    docs.map(_._2.split(" ", -1).count(block)).sum shouldBe masked.values.map(_._1).sum
  }

  test("overlapJoinAgg is lossless vs the naive cross join on boundary-aligned and random intervals") {
    val s = spark
    import s.implicits._
    val cell = 1800L // seconds
    val base = 1700000000000000L // µs epoch, cell-aligned after div
    // Adversarial cases around the grid: starts/ends exactly ON cell
    // boundaries, 1 µs either side, zero-length-adjacent (1 µs), and
    // intervals spanning 1, 2, and 3 cells — plus a seeded random swarm.
    val rnd = new scala.util.Random(42)
    val cellUs = cell * 1000000L
    val edgy = Seq(
      (0L, base, base + cellUs), // exactly one cell
      (1L, base + cellUs - 1L, base + cellUs), // last µs of a cell
      (2L, base + cellUs, base + cellUs + 1L), // first µs of next cell
      (3L, base - 1L, base + 1L), // straddles a boundary by 1 µs each side
      (4L, base, base + 3L * cellUs), // three full cells
      (5L, base + cellUs / 2, base + cellUs / 2 + 1L), // 1-µs interval mid-cell
    )
    val rand = (10L until 90L).map { i =>
      val st = base + (rnd.nextLong(6L * cellUs) - 3L * cellUs)
      (i, st, st + 1L + rnd.nextLong(2L * cellUs))
    }
    def mk(rows: Seq[(Long, Long, Long)]) = rows
      .toDF("event_id", "su", "eu")
      .select(
        col("event_id"), (col("event_id") % 7).cast("double").as("value"),
        expr("timestamp_micros(su)").as("s"), expr("timestamp_micros(eu)").as("e"),
      )
    val all = edgy ++ rand
    val a = mk(all.filter(_._1 % 2 == 0))
    val b = mk(all.filter(_._1 % 2 == 1))
    val naive = a.as("a")
      .join(b.as("b"), col("a.s") < col("b.e") && col("b.s") < col("a.e"), "left")
      .groupBy(col("a.event_id").as("event_id"))
      .agg(count(col("b.event_id")).cast("int").as("n_overlap"), max(col("b.value")).cast("double").as("max_value"))
      .collect().map(r => (r.getLong(0), r.getInt(1), Option(r.get(2)))).toSet
    val bucketed = graft.queries.EventQueries.overlapJoinAgg(a, b, cell)
      .collect().map(r => (r.getLong(0), r.getInt(1), Option(r.get(2)))).toSet
    bucketed shouldBe naive
    bucketed.map(_._1).size shouldBe all.count(_._1 % 2 == 0) // every left row present
    bucketed.exists(_._2 > 0) shouldBe true // and the fixture isn't vacuous
    // a FINER grid (more cells per interval) must produce identical results
    graft.queries.EventQueries.overlapJoinAgg(a, b, cell / 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), Option(r.get(2)))).toSet shouldBe naive
  }

  test("dedup_paragraphs: untouched docs reassemble to their exact text; kept paragraphs are corpus-unique") {
    val s = spark
    import s.implicits._
    val out = SparkEntry.queries("dedup_paragraphs")(s, sf)
      .as[(Long, Int, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val docs = Tables.documents(s, sf).select("doc_id", "text").as[(Long, String)].collect()
    docs.length shouldBe out.size
    out.values.map(_._1).sum should be > 0 // the fixture exercises removal
    // full independent replay: first occurrence of every paragraph in
    // (doc_id, position) order, then per-doc reassembly — byte-for-byte
    val paraOf = docs.map { case (id, text) =>
      id -> text.split(" ", -1).grouped(10).map(_.mkString(" ")).toVector
    }.toMap
    val first = scala.collection.mutable.Map.empty[String, (Long, Int)]
    docs.sortBy(_._1).foreach { case (id, _) =>
      paraOf(id).zipWithIndex.foreach { case (p, i) =>
        if (!first.contains(p)) first(p) = (id, i)
      }
    }
    docs.foreach { case (id, text) =>
      val paras = paraOf(id)
      val keptP = paras.zipWithIndex.collect { case (p, i) if first(p) == ((id, i)) => p }
      val (nRemoved, clean) = out(id)
      withClue(s"doc $id: ") {
        nRemoved shouldBe paras.size - keptP.size
        clean shouldBe keptP.mkString(" ")
        if (nRemoved == 0) clean shouldBe text // identity when nothing removed
      }
    }
  }

  test("overlapJoinAggLevels matches naive on wildly mixed interval lengths, with fewer cells than one grid") {
    val s = spark
    import s.implicits._
    val baseCell = 1800L
    val baseUs = baseCell * 1000000L
    val levels = 6
    val base = 1700000000000000L
    val rnd = new scala.util.Random(7)
    // length mix spanning 4 decades: 1 s .. 40 base cells (20 h)
    val lens = Seq(1000000L, 30L * 1000000L, baseUs / 2, baseUs, 3L * baseUs, 10L * baseUs, 40L * baseUs)
    val all = (0L until 120L).map { i =>
      val st = base + rnd.nextLong(50L * baseUs)
      (i, st, st + lens(rnd.nextInt(lens.length)) + rnd.nextLong(1000L))
    }
    def mk(rows: Seq[(Long, Long, Long)]) = rows
      .toDF("event_id", "su", "eu")
      .select(
        col("event_id"), (col("event_id") % 5).cast("double").as("value"),
        expr("timestamp_micros(su)").as("s"), expr("timestamp_micros(eu)").as("e"),
      )
    val a = mk(all.filter(_._1 % 2 == 0))
    val b = mk(all.filter(_._1 % 2 == 1))
    val naive = a.as("a")
      .join(b.as("b"), col("a.s") < col("b.e") && col("b.s") < col("a.e"), "left")
      .groupBy(col("a.event_id").as("event_id"))
      .agg(count(col("b.event_id")).cast("int").as("n_overlap"), max(col("b.value")).cast("double").as("max_value"))
      .collect().map(r => (r.getLong(0), r.getInt(1), Option(r.get(2)))).toSet
    graft.queries.EventQueries.overlapJoinAggLevels(a, b, baseCell, levels)
      .collect().map(r => (r.getLong(0), r.getInt(1), Option(r.get(2)))).toSet shouldBe naive
    // the single-grid kernel stays lossless on this mix too — it just
    // pays more cells; replay both cost formulas and pin the saving
    graft.queries.EventQueries.overlapJoinAgg(a, b, baseCell)
      .collect().map(r => (r.getLong(0), r.getInt(1), Option(r.get(2)))).toSet shouldBe naive
    def cellsAt(su: Long, eu: Long, cu: Long) = ((eu - 1) / cu - su / cu + 1).toInt
    val single = all.map { case (_, su, eu) => cellsAt(su, eu, baseUs) }.sum
    val multi = all.map { case (_, su, eu) =>
      val l = math.min(levels - 1, math.max(0, math.ceil(math.log((eu - su).toDouble / baseUs) / math.log(2)).toInt))
      val regC = cellsAt(su, eu, baseUs << l)
      val probeC = (l until levels).map(p => cellsAt(su, eu, baseUs << p)).sum
      regC + probeC
    }.sum
    multi.toDouble should be < single.toDouble * 0.8
  }

  test("dedup_paragraphs_fp equals the string-keyed query exactly (collision-free at fixture scale)") {
    val s = spark
    def rows(name: String) = SparkEntry.queries(name)(s, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val fp = rows("dedup_paragraphs_fp")
    fp shouldBe rows("dedup_paragraphs")
    fp.exists(_._2 > 0) shouldBe true
  }

  private implicit class Tap[A](private val a: A) {
    def tap(f: A => Unit): A = { f(a); a }
  }

  test("graph_triangles: NULL order keys form no basket, as in its SQL's equi-join") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tri-null").toFile
    try {
      // orders 1 and 2 share parts {1,2,3}: three w=2 edges, one triangle.
      // The NULL-key rows would make a fourth basket {4,5,6} if grouped.
      Seq[(Option[Long], Long)](
        (Some(1L), 1L), (Some(1L), 2L), (Some(1L), 3L),
        (Some(2L), 1L), (Some(2L), 2L), (Some(2L), 3L),
        (None, 4L), (None, 5L), (None, 6L),
      ).toDF("l_orderkey", "l_partkey").write.parquet(s"${dir.getAbsolutePath}/lineitem.parquet")
      val got = SparkEntry.queries("graph_triangles")(s, dir.getAbsolutePath).collect().toSeq
      Tables.lineitem(s, dir.getAbsolutePath).createOrReplaceTempView("lineitem")
      val want =
        try s.sql(SparkEntry.oracleSql("graph_triangles")).collect().toSeq
        finally s.catalog.dropTempView("lineitem")
      got shouldBe want
      got.head.getLong(0) shouldBe 3L // n_pairs: only the two real orders' pairs
    } finally {
      def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
      rm(dir)
    }
  }
}
