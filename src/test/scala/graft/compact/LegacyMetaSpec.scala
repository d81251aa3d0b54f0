package graft.compact

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import CatalogCommit.{GroupedRoot, InlineRoot}
import ManifestCommit.{HeadState, Manifest}
import ManifestStats.{ColStat, FileStat}

/** Records written by the string-concatenating writers that preceded
  * [[MetaCodec]] (`src/test/resources/legacy-meta`): a manifest leaf
  * with a checkpoint, an UPDATE, position and equality delete sidecars
  * and stats and bloom sidecars; an inline catalog; a grouped catalog.
  * Every record must decode to the values the old regex parsers
  * returned (pinned below as literals), the leaf must resolve to the
  * same live set and rows, and every record except the stats sidecar
  * (whose `"c"` string became the structured `"cols"`) re-encodes to
  * its original bytes.
  */
class LegacyMetaSpec extends AnyFunSuite with Matchers with SparkSpec with BeforeAndAfterAll {

  // read from the source tree, not the classpath: sbt's default resource
  // filter skips hidden files, and the leaf's data lives in `.data-*` dirs
  private val source = Paths.get("src/test/resources/legacy-meta")
  private var root: File = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = Files.createTempDirectory("graft-legacy-meta").toFile
    Files.walk(source).forEach { p =>
      val to = root.toPath.resolve(source.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else { Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING); () }
    }
  }

  override def afterAll(): Unit = {
    def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
    rm(root)
    super.afterAll()
  }

  private def bytes(rel: String): Array[Byte] = Files.readAllBytes(root.toPath.resolve(rel))
  private def leaf = new File(root, "leaf").getAbsolutePath

  // the leaf's run ids and relative file names
  private val ckpt = "5024e71e677e4d78ac5595eaa2d2a614"
  private val upd = "8ab1bffc7ffc43188e6e1901aa6055e2"
  private val mor = "13696d669cd44effb3ed614cf87928a6"
  private val keys = "f740850c2a9d4a5b847651f428863781"
  private val d88 = ".data-88e3582bf5fa48808918fd8d4d9034ae/part-00000-6e07ce9f-935a-4550-a0d5-dae5ac0312b5-c000.snappy.parquet"
  private val dff = ".data-ff4fe7360e68498ca321e4d4ca92d5aa/part-00000-2460cfa3-568f-4030-a6f2-a547a7321642-c000.snappy.parquet"
  private val d8ab = s".data-$upd/part-00000-8586089d-8648-45f6-9fc6-3fedc00b3fde-c000.snappy.parquet"
  private val del = s".delete-$mor/part-00000-70eb80d2-f75b-4ff0-b7e9-bf682b13fde6-c000.snappy.parquet"
  private val eqKeys = s".eqdel-$keys-keys/part-00000-cd0ef6ce-3fd2-4a8e-b25e-a603105ab038-c000.snappy.parquet"
  private val eqScope = s".eqdel-$keys-scope/part-00000-277ebbe1-7408-4110-9e9f-5b35bae084e7-c000.snappy.parquet"
  private val eqPrior = s".eqdel-$keys-prior/part-00000-9b54dd14-de64-4a16-9901-0f8e045507dd-c000.snappy.parquet"

  private val manifests = Seq(
    s"_manifest-checkpoint-$ckpt.json" ->
      Manifest(Seq.empty, Seq(d88, dff), 2L, ckpt, "checkpoint", 40L, Seq.empty, 0L, mut = false),
    s"_manifest-update-$upd.json" ->
      Manifest(Seq(dff), Seq(d8ab), 4L, upd, "update", 40L, Seq.empty, 0L, mut = true),
    s"_manifest-delete-mor-$mor.json" ->
      Manifest(Seq.empty, Seq.empty, 5L, mor, "delete-mor", 0L, Seq(del), 15L, mut = false),
    s"_manifest-delete-keys-$keys.json" ->
      Manifest(Seq.empty, Seq.empty, 6L, keys, "delete-keys", 0L, Seq(eqKeys, eqScope, eqPrior), 0L, mut = false),
  )

  test("legacy manifests (a checkpoint among them) decode to the old parser's values and re-encode byte for byte") {
    manifests.foreach { case (name, m) =>
      val b = bytes(s"leaf/$name")
      withClue(name) {
        MetaCodec.decodeManifest(b) shouldBe Some(m)
        new String(MetaCodec.encodeManifest(m, checkpoint = m.stem == "checkpoint"), "UTF-8") shouldBe
          new String(b, "UTF-8")
      }
    }
  }

  test("the legacy head decodes to the old parser's value and re-encodes byte for byte") {
    val b = bytes("leaf/_head-000000006.json")
    val h = HeadState(
      6L, Set(dff), Seq(d88, d8ab), manifests.map(_._1).toSet, keys, Seq(del, eqKeys, eqPrior, eqScope))
    MetaCodec.decodeHead(b) shouldBe Some(h)
    new String(MetaCodec.encodeHead(
      h.seq, h.runId, h.covered.toSeq.sorted, h.superseded.toSeq.sorted, h.outputs, h.deletes), "UTF-8") shouldBe
      new String(b, "UTF-8")
  }

  test("legacy stats sidecars decode through the \"c\" branch to the old parser's values, -0.0 kept") {
    val upper = FileStat(40L, Map("id" -> ColStat(40.0, 79.0, 0L), "v" -> ColStat(100.0, 197.5, 0L)))
    val ck = MetaCodec.decodeStats(bytes(s"leaf/_stats-$ckpt.json")).toMap
    ck shouldBe Map(
      d88 -> FileStat(40L, Map("id" -> ColStat(0.0, 39.0, 0L), "v" -> ColStat(-0.0, 97.5, 0L))),
      dff -> upper,
    )
    java.lang.Double.doubleToRawLongBits(ck(d88).cols("v").lo) shouldBe java.lang.Double.doubleToRawLongBits(-0.0)
    MetaCodec.decodeStats(bytes(s"leaf/_stats-$upd.json")) shouldBe Seq(d8ab -> upper)
    // the structured re-encoding carries the same values
    MetaCodec.decodeStats(MetaCodec.encodeStats(ckpt, ck)).toMap shouldBe ck
  }

  test("legacy bloom sidecars decode to the old parser's bytes and re-encode byte for byte") {
    val dec = java.util.Base64.getDecoder
    val want = Map(
      ckpt -> Seq(
        d88 -> "AAAAAgAAAAsAAAAAAAAAECFqCQABpp4xTGkjGJAICsYrqk2QALEEQacKTlH1a27oOARgnj4pSgOjABgoUCQsCq0yJvlCTwhxAAACBRTSCwiGA86jQCqiIoAKop5DDqsHIB4lQELJCGRAU0mIM1IwIZIEDqsAHQMoKgSaKjCxqAggiVVVUCIICXAhq2WSCqBD",
        dff -> "AAAAAgAAAAsAAAAAAAAAEEOLUIJggJmAvB9kCECABDRQSIKYoVBYCIAY4obIRnEFWywNKIlcMbICgE++IewCzhRZCcBZClxJT5hRagQCCFQAYk4JwEmAsGqEBQJxCERzBNsIpYAgYfUFoAPIODE5sqiBp5rF5KogCjDbVEdAqUDQAPDaXMAGFczQgBQAzEDI",
      ),
      upd -> Seq(
        d8ab -> "AAAAAgAAAAsAAAAAAAAAEEOLUIJoiBmAvB9kCECABDRQSIKYoVBYCIAY4obIRnEFWywMKKl8IZICgE++IewCjhRZCcBZChxJT4hRagQCCFAAYg4JwMmAMGqEBAJhCERzBNsIoYAgYPUFoAPIIDE5sqiBp5rHpqggCjDbVEdAqUDQAPDaXMAGFczQgBQAzEDI",
      ),
    )
    want.foreach { case (runId, entries) =>
      val b = bytes(s"leaf/_bloom-$runId.json")
      val got = MetaCodec.decodeBlooms(b)
      got.map(e => (e._1, e._2, e._3.toSeq)) shouldBe entries.map { case (f, b64) => (f, "tag", dec.decode(b64).toSeq) }
      val asMap = got.groupBy(_._1).map { case (f, es) => f -> es.map(e => e._2 -> e._3).toMap }
      new String(MetaCodec.encodeBlooms(runId, asMap), "UTF-8") shouldBe new String(b, "UTF-8")
    }
  }

  test("the legacy leaf resolves to the same live set, delete set, log and rows") {
    def rel(xs: Seq[String]) = xs.map(ManifestCommit.relativeTo(leaf, _)).sorted
    rel(ManifestCommit.liveFiles(spark, leaf)) shouldBe Seq(d88, d8ab, "e.parquet")
    rel(ManifestCommit.liveDeletes(spark, leaf)) shouldBe Seq(del, eqKeys, eqPrior, eqScope)
    ManifestCommit.currentSeq(spark, leaf) shouldBe 6L
    ManifestCommit.manifestLog(spark, leaf).map(m => (m.seq, m.stem)) shouldBe
      Seq(2L -> "checkpoint", 4L -> "update", 5L -> "delete-mor", 6L -> "delete-keys")
    val want = (0 until 100).filterNot(i => i % 7 == 0 || i == 11 || i == 12)
      .map(i => s"[$i,${i * 2.5},${if (i >= 41 && i <= 43) "upd" else s"r$i"}]").sorted
    ManifestCommit.readLeaf(spark, leaf).collect().map(_.toString).sorted.toSeq shouldBe want
    want.size shouldBe 83
  }

  test("a legacy inline catalog decodes to the old parser's roots and resolves the same pins") {
    val r1 = InlineRoot(1L, Map("leafA" -> 3L, "p=1/leafB" -> 7L))
    val r2 = InlineRoot(2L, Map("leafA" -> 5L, "leafC" -> 1L, "p=1/leafB" -> 7L))
    Seq("_cat-000000001.json" -> r1, "_cat-000000002.json" -> r2).foreach { case (name, r) =>
      val b = bytes(s"cat-inline/$name")
      MetaCodec.decodeRoot(b) shouldBe Some(r)
      new String(MetaCodec.encodeInlineRoot(r.seq, r.leaves), "UTF-8") shouldBe new String(b, "UTF-8")
    }
    val cat = new File(root, "cat-inline").getAbsolutePath
    val cur = CatalogCommit.current(spark, cat).get
    (cur.seq, cur.leaves) shouldBe ((2L, r2.leaves))
    CatalogCommit.oldestPins(spark, cat) shouldBe Map("leafA" -> 3L, "leafC" -> 1L, "p=1/leafB" -> 7L)
  }

  test("a legacy grouped catalog decodes to the old parser's roots and groups and resolves the same pins") {
    val g0 = "_grp-000000001-0000-adfc5d87.json"
    val g1a = "_grp-000000001-0001-a2d1b6d9.json"
    val g1b = "_grp-000000002-0001-9b093b98.json"
    val roots = Seq(
      "_cat-000000001.json" -> GroupedRoot(1L, 2, Map(0 -> g0, 1 -> g1a)),
      "_cat-000000002.json" -> GroupedRoot(2L, 2, Map(0 -> g0, 1 -> g1b)),
    )
    roots.foreach { case (name, r) =>
      val b = bytes(s"cat-grouped/$name")
      MetaCodec.decodeRoot(b) shouldBe Some(r)
      new String(MetaCodec.encodeGroupedRoot(r.seq, r.gcount, r.groups), "UTF-8") shouldBe new String(b, "UTF-8")
    }
    val groups = Seq(
      (g0, 1L, 0, Map("leafA" -> 3L, "leafD" -> 9L)),
      (g1a, 1L, 1, Map("leafC" -> 2L, "p=1/leafB" -> 7L)),
      (g1b, 2L, 1, Map("leafC" -> 4L, "p=1/leafB" -> 7L)),
    )
    groups.foreach { case (name, seq, gid, pins) =>
      val b = bytes(s"cat-grouped/$name")
      MetaCodec.decodeGroup(b) shouldBe Some(pins)
      new String(MetaCodec.encodeGroup(seq, gid, pins), "UTF-8") shouldBe new String(b, "UTF-8")
    }
    val cat = new File(root, "cat-grouped").getAbsolutePath
    val cur = CatalogCommit.current(spark, cat).get
    (cur.seq, cur.leaves) shouldBe ((2L, Map("leafA" -> 3L, "leafC" -> 4L, "leafD" -> 9L, "p=1/leafB" -> 7L)))
    cur.pin("p=1/leafB") shouldBe Some(7L)
    CatalogCommit.oldestPins(spark, cat) shouldBe Map("leafA" -> 3L, "leafC" -> 2L, "leafD" -> 9L, "p=1/leafB" -> 7L)
  }
}
