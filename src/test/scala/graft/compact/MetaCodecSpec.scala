package graft.compact

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import CatalogCommit.{GroupedRoot, InlineRoot}
import ManifestCommit.{HeadState, Manifest}
import ManifestStats.{ColStat, FileStat}

/** [[MetaCodec]] round trips over adversarial names (no Spark session):
  * every record kind decodes back to the value it encoded, whatever
  * quotes, backslashes, brackets, separators, control or non-ASCII
  * characters its names hold; stats bounds come back bit for bit; and
  * every proper prefix of every encoding — a torn upload — decodes as
  * absent.
  */
class MetaCodecSpec extends AnyFunSuite with Matchers {

  private def check(p: Prop): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(200).withInitialSeed(Seed(125L))
    val r = Test.check(params, p)
    withClue(org.scalacheck.util.Pretty.pretty(r)) { r.passed shouldBe true }
  }

  // ---- generators -------------------------------------------------------

  private val token: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf("\"", "\\", "]", "[", ",", ":", "|", ";", "{", "}", "%", "=", " ", "/", "\"sealed\":true}"),
    2 -> Gen.oneOf("é", "日本", " ", "😀", "Ω"),
    2 -> Gen.choose(0, 31).map(_.toChar.toString),
    3 -> Gen.alphaNumStr.map(_.take(6)),
  )
  private val name: Gen[String] = Gen.choose(0, 8).flatMap(Gen.listOfN(_, token)).map(_.mkString)
  private val nonEmptyName: Gen[String] = name.map(n => if (n.isEmpty) "x" else n)
  private def names: Gen[List[String]] = Gen.choose(0, 5).flatMap(Gen.listOfN(_, name))
  private val count: Gen[Long] = Gen.oneOf(Gen.choose(0L, 1000L), Gen.choose(0L, Long.MaxValue))

  /** Bounds a stats sidecar must carry exactly, the ULP-widened long
    * bounds of `ManifestStats.numericBounds` among them.
    */
  private val bound: Gen[Double] = Gen.frequency(
    3 -> Gen.oneOf(
      Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, Double.NaN,
      Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue, 0.1, 1e-300,
      math.nextDown(Long.MinValue.toDouble), math.nextUp(Long.MaxValue.toDouble),
      math.nextUp(9007199254740993L.toDouble), math.nextDown(-9007199254740993L.toDouble),
    ),
    3 -> Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble),
    2 -> Gen.choose(Long.MinValue, Long.MaxValue).map(l => math.nextUp(l.toDouble)),
  )
  private val colStat: Gen[ColStat] = for (lo <- bound; hi <- bound; n <- Gen.oneOf(-1L, 0L, 7L)) yield ColStat(lo, hi, n)
  private val fileStat: Gen[FileStat] = for {
    rows <- count
    cols <- Gen.mapOfN(4, Gen.zip(name, colStat))
  } yield FileStat(rows, cols)
  private val stats: Gen[Map[String, FileStat]] = Gen.mapOfN(4, Gen.zip(name, fileStat))
  private val blooms: Gen[Map[String, Map[String, Array[Byte]]]] =
    Gen.mapOfN(3, Gen.zip(name, Gen.mapOfN(3, Gen.zip(name, Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)))))
  private val pins: Gen[Map[String, Long]] = Gen.mapOfN(6, Gen.zip(nonEmptyName, count))

  private val manifest: Gen[Manifest] = for {
    ins <- names; outs <- names; seq <- count; runId <- name; stem <- name
    rows <- count; dels <- names; drows <- count; mut <- Gen.oneOf(true, false)
  } yield Manifest(ins, outs, seq, runId, stem, rows, dels, drows, mut)

  private final case class Head(seq: Long, runId: String, cov: List[String], sup: List[String], outs: List[String], dels: List[String]) {
    def bytes: Array[Byte] = MetaCodec.encodeHead(seq, runId, cov, sup, outs, dels)
  }
  private val head: Gen[Head] =
    for (seq <- count; runId <- name; cov <- names; sup <- names; outs <- names; dels <- names)
      yield Head(seq, runId, cov, sup, outs, dels)

  /** One encoding of every record kind. */
  private val encoding: Gen[Array[Byte]] = Gen.oneOf(
    manifest.map(MetaCodec.encodeManifest(_)),
    manifest.map(MetaCodec.encodeManifest(_, checkpoint = true)),
    head.map(_.bytes),
    Gen.zip(name, stats).map { case (r, s) => MetaCodec.encodeStats(r, s) },
    Gen.zip(name, blooms).map { case (r, b) => MetaCodec.encodeBlooms(r, b) },
    Gen.zip(count, pins).map { case (s, p) => MetaCodec.encodeInlineRoot(s, p) },
    Gen.zip(count, Gen.choose(1, 64), Gen.mapOfN(4, Gen.zip(Gen.choose(0, 63), nonEmptyName)))
      .map { case (s, g, refs) => MetaCodec.encodeGroupedRoot(s, g, refs) },
    Gen.zip(count, Gen.choose(0, 63), pins).map { case (s, g, p) => MetaCodec.encodeGroup(s, g, p) },
  )

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
  private def exact(s: Map[String, FileStat]) =
    s.map { case (f, fs) => f -> (fs.rows, fs.cols.map { case (c, st) => c -> ((bits(st.lo), bits(st.hi), st.nulls)) }) }

  // ---- properties -------------------------------------------------------

  test("manifests and checkpoint manifests round-trip any names") {
    check(Prop.forAll(manifest) { m =>
      MetaCodec.decodeManifest(MetaCodec.encodeManifest(m)).contains(m) &&
      MetaCodec.decodeManifest(MetaCodec.encodeManifest(m, checkpoint = true)).contains(m.copy(drows = 0L, mut = false))
    })
  }

  test("heads round-trip any names") {
    check(Prop.forAll(head) { h =>
      MetaCodec.decodeHead(h.bytes).contains(HeadState(h.seq, h.sup.toSet, h.outs, h.cov.toSet, h.runId, h.dels))
    })
  }

  test("stats sidecars round-trip any file and column names, bounds bit for bit") {
    check(Prop.forAll(name, stats) { (runId, s) =>
      val got = MetaCodec.decodeStats(MetaCodec.encodeStats(runId, s))
      got.size == s.size && exact(got.toMap) == exact(s)
    })
  }

  test("the legacy \"c\" stats string decodes bit for bit for every name its writer accepted") {
    val legacyName = name.map(_.filterNot(c => "\"\\;[]|:".contains(c))).map(n => if (n.isEmpty) "c" else n)
    val legacyStats = Gen.mapOfN(4, Gen.zip(name.map(_.filterNot(c => c == '"' || c == '\\')), for {
      rows <- Gen.choose(0L, Long.MaxValue); cols <- Gen.mapOfN(4, Gen.zip(legacyName, colStat))
    } yield FileStat(rows, cols)))
    check(Prop.forAll(legacyStats) { s =>
      // the earlier writer's exact layout
      val body = s.toSeq.sortBy(_._1).map { case (f, fst) =>
        val cs = fst.cols.toSeq.sortBy(_._1)
          .map { case (c, st) => s"$c:[${st.lo};${st.hi};${st.nulls}]" }.mkString("|")
        s"""{"f":"$f","r":${fst.rows},"c":"$cs"}"""
      }.mkString("[", ",", "]")
      val text = s"""{"runId":"abc","files":$body,""" + MetaCodec.SealMark
      exact(MetaCodec.decodeStats(text.getBytes("UTF-8")).toMap) == exact(s)
    })
  }

  test("bloom sidecars round-trip any file and column names") {
    check(Prop.forAll(name, blooms) { (runId, b) =>
      val got = MetaCodec.decodeBlooms(MetaCodec.encodeBlooms(runId, b))
      got.map(e => (e._1, e._2, e._3.toSeq)).toSet ==
        b.toSeq.flatMap { case (f, cols) => cols.map { case (c, bs) => (f, c, bs.toSeq) } }.toSet
    })
  }

  test("inline roots, grouped roots and group manifests round-trip any leaf paths") {
    check(Prop.forAll(count, pins) { (seq, p) =>
      MetaCodec.decodeRoot(MetaCodec.encodeInlineRoot(seq, p)).contains(InlineRoot(seq, p))
    })
    check(Prop.forAll(count, Gen.choose(1, 64), Gen.mapOfN(4, Gen.zip(Gen.choose(0, 63), nonEmptyName))) { (seq, g, refs) =>
      MetaCodec.decodeRoot(MetaCodec.encodeGroupedRoot(seq, g, refs)).contains(GroupedRoot(seq, g, refs))
    })
    check(Prop.forAll(count, Gen.choose(0, 63), pins) { (seq, gid, p) =>
      MetaCodec.decodeGroup(MetaCodec.encodeGroup(seq, gid, p)).contains(p)
    })
  }

  test("every proper prefix of every encoding decodes as absent") {
    def absent(b: Array[Byte]): Boolean =
      MetaCodec.decodeManifest(b).isEmpty && MetaCodec.decodeHead(b).isEmpty &&
        MetaCodec.decodeStats(b).isEmpty && MetaCodec.decodeBlooms(b).isEmpty &&
        MetaCodec.decodeRoot(b).isEmpty && MetaCodec.decodeGroup(b).isEmpty
    check(Prop.forAll(encoding) { b =>
      new String(b, "UTF-8").endsWith(MetaCodec.SealMark) && (0 until b.length).forall(k => absent(b.take(k)))
    })
  }

  test("a sealed record that is not one whole JSON object decodes as absent") {
    val garbled = Seq(
      """{"runId":"a","inputs":["x"],"outputs":[],"sealed":true}{"sealed":true}""",
      """[],"sealed":true}""",
      """{"runId":"a","inputs":"x","outputs":[],"sealed":true}""",
      """{"runId":"a","inputs":["x"],"inputs":["y"],"outputs":[],"sealed":true}""",
      """{"seq":"1","leaves":[],"sealed":true}""",
      """{"leaves":[{"p":"a","s":1}],"sealed":true}""",
    ).map(_.getBytes("UTF-8"))
    garbled.foreach { b =>
      withClue(new String(b, "UTF-8")) {
        MetaCodec.decodeManifest(b) shouldBe None
        MetaCodec.decodeRoot(b) shouldBe None
      }
    }
  }

  test("unknown fields are ignored and missing ones take their defaults") {
    val m = """{"runId":"r","future":{"a":[1,2]},"inputs":["a"],"outputs":["b"],"metrics":{"ms":3},"sealed":true}"""
    MetaCodec.decodeManifest(m.getBytes("UTF-8")) shouldBe Some(Manifest(Seq("a"), Seq("b"), runId = "r"))
    val h = """{"seq":3,"covered":[],"superseded":[],"outputs":[],"sealed":true}"""
    MetaCodec.decodeHead(h.getBytes("UTF-8")) shouldBe Some(HeadState(3L, Set.empty, Seq.empty, Set.empty))
    val g = """{"seq":2,"groups":[{"g":0,"f":"_grp-x.json","n":9}],"sealed":true}"""
    MetaCodec.decodeRoot(g.getBytes("UTF-8")) shouldBe Some(GroupedRoot(2L, 1, Map(0 -> "_grp-x.json")))
  }
}
