package graft.compact

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonGenerator, JsonParser, JsonToken, StreamReadConstraints, StreamReadFeature}
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.hadoop.fs.{FileSystem, Path}

import CatalogCommit.{GroupedRoot, InlineRoot, Root}
import ManifestCommit.{HeadState, Manifest}
import ManifestStats.{ColStat, FileStat}

/** The one reader and writer of the manifest-mode metadata records:
  * manifests (checkpoints included), head pointers, stats and bloom
  * sidecars, inline and grouped catalog roots, and catalog group
  * manifests. Each is one JSON object whose last field is
  * `"sealed":true`, so a record exists exactly when its bytes end with
  * [[SealMark]] and parse as one whole object; anything else (a torn
  * upload, a garbled or wrongly typed field) decodes as absent.
  *
  * Names are escaped JSON strings, so any character is legal. Unknown
  * fields are ignored; missing ones default to 0, "", empty, `mut` false
  * and `gcount` 1. The one legacy branch reads the stats entry's `"c"`
  * string (`col:[lo;hi;nulls]|…`) that sidecars carried before `"cols"`.
  * Catalog pin arrays (O(members)) stream straight into their map.
  */
private[compact] object MetaCodec {

  val SealMark: String = "\"sealed\":true}"
  private val sealBytes = SealMark.getBytes("UTF-8")

  // Thread-safe once built. Earlier writers left control characters
  // unescaped; a bloom payload is one long base64 string.
  private val mapper = JsonMapper.builder(
    new JsonFactoryBuilder()
      .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
      .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
      .streamReadConstraints(StreamReadConstraints.builder().maxStringLength(Int.MaxValue).build())
      .build(),
  ).build()

  /** Create-only write of one record: the create is the commit point. */
  def write(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, false)
    try out.write(bytes)
    finally out.close()
  }

  /** A record's bytes, None when unreadable (callers that must tell
    * unreadable from torn do their own I/O).
    */
  def read(fs: FileSystem, p: Path): Option[Array[Byte]] =
    try {
      val in = fs.open(p)
      try Some(in.readAllBytes())
      finally in.close()
    } catch { case NonFatal(_) => None }

  // ---- encoders: fields in their on-disk order --------------------------

  /** A checkpoint manifest carries no `drows` and no `mut`. */
  def encodeManifest(m: Manifest, checkpoint: Boolean = false): Array[Byte] = record(
    Seq("runId" -> m.runId, "stem" -> m.stem, "rows" -> m.rows, "seq" -> m.seq) ++
      (if (checkpoint) Nil else ("drows" -> m.drows) +: (if (m.mut) Seq("mut" -> 1L) else Nil)) ++
      Seq("inputs" -> m.inputs, "outputs" -> m.outputs, "deletes" -> m.deletes): _*)

  def encodeHead(seq: Long, runId: String, covered: Seq[String], superseded: Seq[String],
      outputs: Seq[String], deletes: Seq[String]): Array[Byte] = record(
    "seq" -> seq, "runId" -> runId, "covered" -> covered, "superseded" -> superseded,
    "outputs" -> outputs, "deletes" -> deletes)

  /** Each column as `"col":[lo,hi,nulls]`; a non-finite bound is written
    * as the string "Infinity", "-Infinity" or "NaN", a finite one in
    * `Double.toString` form, which parses back to the same bits.
    */
  def encodeStats(runId: String, stats: Map[String, FileStat]): Array[Byte] = record(
    "runId" -> runId,
    "files" -> stats.toSeq.sortBy(_._1).map { case (f, fst) =>
      Obj("f" -> f, "r" -> fst.rows,
        "cols" -> Obj(fst.cols.toSeq.sortBy(_._1).map { case (c, st) => c -> Seq[Any](st.lo, st.hi, st.nulls) }: _*))
    })

  def encodeBlooms(runId: String, blooms: Map[String, Map[String, Array[Byte]]]): Array[Byte] = record(
    "runId" -> runId,
    "blooms" -> (for ((f, cols) <- blooms.toSeq.sortBy(_._1); (c, bits) <- cols.toSeq.sortBy(_._1))
      yield Obj("f" -> f, "col" -> c, "b" -> java.util.Base64.getEncoder.encodeToString(bits))))

  def encodeInlineRoot(seq: Long, leaves: Map[String, Long]): Array[Byte] =
    record("seq" -> seq, "leaves" -> pins(leaves))

  def encodeGroupedRoot(seq: Long, gcount: Int, groups: Map[Int, String]): Array[Byte] = record(
    "seq" -> seq, "gcount" -> gcount,
    "groups" -> groups.toSeq.sortBy(_._1).map { case (g, f) => Obj("g" -> g, "f" -> f) })

  def encodeGroup(seq: Long, gid: Int, leaves: Map[String, Long]): Array[Byte] =
    record("seq" -> seq, "g" -> gid, "leaves" -> pins(leaves))

  private def pins(leaves: Map[String, Long]): Seq[Obj] =
    leaves.toSeq.sortBy(_._1).map { case (p, s) => Obj("p" -> p, "s" -> s) }

  // ---- decoders ---------------------------------------------------------

  def decodeManifest(bytes: Array[Byte]): Option[Manifest] = decode(bytes) { (f, _) =>
    Manifest(texts(f, "inputs", required = true), texts(f, "outputs", required = true), long(f, "seq"),
      text(f, "runId"), text(f, "stem"), long(f, "rows"), texts(f, "deletes"), long(f, "drows"), long(f, "mut") == 1L)
  }

  def decodeHead(bytes: Array[Byte]): Option[HeadState] = decode(bytes) { (f, _) =>
    HeadState(long(f, "seq"), texts(f, "superseded", required = true).toSet, texts(f, "outputs", required = true),
      texts(f, "covered", required = true).toSet, text(f, "runId"), texts(f, "deletes"))
  }

  /** Entries without a file name or row count, and columns without
    * three well-formed numbers, are skipped: they only lose pruning.
    */
  def decodeStats(bytes: Array[Byte]): Seq[(String, FileStat)] = decode(bytes) { (f, _) =>
    array(f, "files").flatMap { e =>
      val (name, r, cols) = (e.path("f"), e.path("r"), e.path("cols"))
      if (!name.isTextual || !r.isIntegralNumber || !r.canConvertToLong) None
      else Some(name.textValue -> FileStat(r.longValue,
        if (cols.isObject) cols.properties().asScala.flatMap(kv => colStat(kv.getValue).map(kv.getKey -> _)).toMap
        else if (e.path("c").isTextual) legacyCols(e.path("c").textValue)
        else Map.empty))
    }
  }.getOrElse(Seq.empty)

  /** Entries whose payload is not base64 are skipped. */
  def decodeBlooms(bytes: Array[Byte]): Seq[(String, String, Array[Byte])] = decode(bytes) { (f, _) =>
    array(f, "blooms").flatMap { e =>
      val (name, c, b) = (e.path("f"), e.path("col"), e.path("b"))
      if (!name.isTextual || !c.isTextual || !b.isTextual) None
      else try Some((name.textValue, c.textValue, java.util.Base64.getDecoder.decode(b.textValue)))
      catch { case _: IllegalArgumentException => None }
    }
  }.getOrElse(Seq.empty)

  /** Grouped when it carries `groups`, inline otherwise; no `seq`, no root. */
  def decodeRoot(bytes: Array[Byte]): Option[Root] = decode(bytes, streamPins = true) { (f, leaves) =>
    if (!f.contains("seq")) throw new Garbled
    if (!f.contains("groups")) InlineRoot(long(f, "seq"), leaves)
    else GroupedRoot(long(f, "seq"), math.max(1L, long(f, "gcount")).toInt, array(f, "groups").flatMap { e =>
      val (g, name) = (e.path("g"), e.path("f"))
      if (g.isIntegralNumber && g.canConvertToInt && g.intValue >= 0 && name.isTextual && name.textValue.nonEmpty)
        Some(g.intValue -> name.textValue)
      else None
    }.toMap)
  }

  def decodeGroup(bytes: Array[Byte]): Option[Map[String, Long]] =
    decode(bytes, streamPins = true)((_, leaves) => leaves)

  private def colStat(v: JsonNode): Option[ColStat] = {
    def num(x: JsonNode) = if (x.isNumber) Some(x.doubleValue) else if (x.isTextual) x.textValue.toDoubleOption else None
    val n = v.path(2)
    if (!v.isArray || v.size != 3 || !n.isIntegralNumber || !n.canConvertToLong) None
    else for (lo <- num(v.get(0)); hi <- num(v.get(1))) yield ColStat(lo, hi, n.longValue)
  }

  /** Its writer refused `: | [ ] ;` in column names, so the first `:[`
    * ends the name and `;` separates the three numbers.
    */
  private def legacyCols(c: String): Map[String, ColStat] =
    c.split('|').iterator.flatMap { e =>
      val open = e.indexOf(":[")
      if (open <= 0 || !e.endsWith("]")) None
      else e.substring(open + 2, e.length - 1).split(';') match {
        case Array(lo, hi, n) =>
          for (l <- lo.toDoubleOption; h <- hi.toDoubleOption; k <- n.toLongOption) yield e.take(open) -> ColStat(l, h, k)
        case _ => None
      }
    }.toMap

  // ---- building blocks --------------------------------------------------

  /** A JSON object whose fields keep their given order. */
  private final case class Obj(fields: (String, Any)*)

  private def record(fields: (String, Any)*): Array[Byte] = {
    val buf = new ByteArrayOutputStream(256)
    val g = mapper.getFactory.createGenerator(buf)
    put(g, Obj(fields :+ ("sealed" -> true): _*))
    g.close()
    buf.toByteArray
  }

  private def put(g: JsonGenerator, v: Any): Unit = v match {
    case s: String  => g.writeString(s)
    case n: Long    => g.writeNumber(n)
    case n: Int     => g.writeNumber(n)
    case d: Double  => g.writeNumber(d)
    case b: Boolean => g.writeBoolean(b)
    case o: Obj =>
      g.writeStartObject()
      o.fields.foreach { case (k, x) => g.writeFieldName(k); put(g, x) }
      g.writeEndObject()
    case xs: Seq[_] => g.writeStartArray(); xs.foreach(put(g, _)); g.writeEndArray()
  }

  /** A wrong type anywhere makes the whole record absent. */
  private final class Garbled extends RuntimeException("garbled metadata record", null, false, false)

  /** Runs `f` on a sealed record's top-level fields, parsed as trees —
    * except `leaves`, which with `streamPins` folds straight into a map.
    */
  private def decode[A](bytes: Array[Byte], streamPins: Boolean = false)(
      f: (Map[String, JsonNode], Map[String, Long]) => A): Option[A] =
    if (bytes.length < sealBytes.length || !java.util.Arrays.equals(
        bytes, bytes.length - sealBytes.length, bytes.length, sealBytes, 0, sealBytes.length)) None
    else
      try {
        val p = mapper.createParser(bytes)
        try {
          if (p.nextToken() != JsonToken.START_OBJECT) throw new Garbled
          val fields = Map.newBuilder[String, JsonNode]
          var leaves = Map.empty[String, Long]
          while (p.nextToken() == JsonToken.FIELD_NAME) {
            val name = p.currentName()
            p.nextToken()
            if (streamPins && name == "leaves") leaves = pinArray(p)
            else fields += name -> p.readValueAsTree[JsonNode]()
          }
          if (!p.hasToken(JsonToken.END_OBJECT) || p.nextToken() != null) throw new Garbled
          Some(f(fields.result(), leaves))
        } finally p.close()
      } catch { case NonFatal(_) => None }

  /** `[{"p":…,"s":…},…]`; an entry without a non-empty path and a seq
    * names no leaf and is skipped.
    */
  private def pinArray(p: JsonParser): Map[String, Long] = {
    if (!p.hasToken(JsonToken.START_ARRAY)) throw new Garbled
    val b = Map.newBuilder[String, Long]
    while (p.nextToken() == JsonToken.START_OBJECT) {
      var path = ""
      var s = -1L
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName()
        val t = p.nextToken()
        if (name == "p" && t == JsonToken.VALUE_STRING) path = p.getText
        else if (name == "s" && t == JsonToken.VALUE_NUMBER_INT) s = p.getLongValue
        else p.skipChildren()
      }
      if (path.nonEmpty && s >= 0) b += path -> s
    }
    if (!p.hasToken(JsonToken.END_ARRAY)) throw new Garbled
    b.result()
  }

  private def long(f: Map[String, JsonNode], name: String): Long = f.get(name) match {
    case None                                                => 0L
    case Some(v) if v.isIntegralNumber && v.canConvertToLong => v.longValue
    case _                                                   => throw new Garbled
  }

  private def text(f: Map[String, JsonNode], name: String): String = f.get(name) match {
    case None                   => ""
    case Some(v) if v.isTextual => v.textValue
    case _                      => throw new Garbled
  }

  private def array(f: Map[String, JsonNode], name: String): Seq[JsonNode] = f.get(name) match {
    case None                 => Seq.empty
    case Some(v) if v.isArray => v.asScala.toVector
    case _                    => throw new Garbled
  }

  private def texts(f: Map[String, JsonNode], name: String, required: Boolean = false): Seq[String] =
    if (required && !f.contains(name)) throw new Garbled
    else array(f, name).map(x => if (x.isTextual) x.textValue else throw new Garbled)
}
