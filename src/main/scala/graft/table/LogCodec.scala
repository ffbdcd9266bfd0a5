package graft.table

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The JSON layout of every file under `_graft_log` — commit entries,
  * DV sidecars, `.ckpt.json` anchors, clone pins, bloom pointers, zone
  * and string-zone blocks, row counts, column statistics — and of the
  * bucketed layout's zone sidecar. Nothing else in the engine knows a
  * key name or a delimiter: writers hand this module typed values and
  * readers get typed values back.
  *
  * Built on the json4s AST Spark itself uses for `DataType.json`, so
  * strings are escaped on write and unescaped on read: a file name,
  * property key, appId or constraint name may hold any character. Key
  * names, field order and value encodings are the ones the log has
  * always had (the schema, constraint SQL, property values, COPY INTO
  * identities and string-zone values stay base64), so an entry whose
  * strings need no escaping is written byte-for-byte as before and every
  * existing log reads through the one decoder.
  */
private[graft] object LogCodec {

  /** The file actions of a commit entry (or an anchor sidecar). */
  sealed trait Actions
  /** A checkpoint's full file list, inline. */
  final case class FullList(files: Seq[String]) extends Actions
  /** A full file list spilled to a columnar checkpoint sidecar. */
  final case class CkptRef(name: String) extends Actions
  /** An add/remove delta against the predecessor's list. */
  final case class Delta(add: Seq[String], remove: Seq[String]) extends Actions

  /** One commit entry `vNNNNNNNN.json`. `schema` is the committed
    * `StructType.json`; `dvs` and `dvFile` are exclusive (small DV maps
    * inline, large ones spill to a sidecar); `clusteredIdx` is the
    * OPTIMIZE provenance full-list entries record, as indexes into the
    * list; `copyInto` the COPY INTO source identities the commit loaded.
    */
  final case class LogEntry(
      version: Long,
      op: String,
      ts: Option[Long],
      schema: Option[String],
      actions: Actions,
      txns: Map[String, Long] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      props: Map[String, String] = Map.empty,
      dvs: Map[String, Seq[Long]] = Map.empty,
      dvFile: Option[String] = None,
      pairKeys: Seq[String] = Nil,
      droppedPhys: Seq[String] = Nil,
      readerFeatures: Seq[String] = Nil,
      clusteredIdx: Option[Seq[Int]] = None,
      copyInto: Seq[String] = Nil)

  /** A shallow clone's pin sidecar: the source version and the files it
    * keeps live. `version` is -1 on a pin that lacks the field.
    */
  final case class Pin(version: Long, files: Seq[String])

  /** A bloom build pointer: sidecar generations, columns, sizing. */
  final case class BloomPointer(
      datas: Seq[String], cols: Seq[String], fpp: Double, items: Long)

  // ---- commit entries ---------------------------------------------------

  def encode(e: LogEntry): String = render(Seq(
    Some("version" -> JLong(e.version)),
    Some("op" -> JString(e.op)),
    e.ts.map("ts" -> JLong(_)),
    e.schema.map(s => "schema" -> JString(b64(s))),
    nonEmpty("txns", e.txns)(JLong(_)),
    nonEmpty("constraints", e.constraints)(s => JString(b64(s))),
    nonEmpty("props", e.props)(s => JString(b64(s))),
    nonEmpty("dvs", e.dvs)(longs),
    e.dvFile.map("dvfile" -> JString(_)),
    nonEmptyArr("pairkeys", e.pairKeys),
    nonEmptyArr("droppedphys", e.droppedPhys),
    nonEmptyArr("readerfeatures", e.readerFeatures),
    e.clusteredIdx.map(i => "clusteredidx" -> JString(encodeRanges(i))),
    nonEmptyArr("copyinto", e.copyInto.map(b64))
  ).flatten ++ actionFields(e.actions))

  def decode(json: String): LogEntry = {
    val m = fields(json)
    LogEntry(
      version = m.get("version").map(long).getOrElse(-1L),
      op = m.get("op").map(str).getOrElse("unknown"),
      ts = m.get("ts").map(long),
      schema = m.get("schema").map(v => unb64(str(v))),
      actions = actionsOf(m),
      txns = m.get("txns").map(obj(_)(long)).getOrElse(Map.empty),
      constraints = m.get("constraints").map(obj(_)(v => unb64(str(v)))).getOrElse(Map.empty),
      props = m.get("props").map(obj(_)(v => unb64(str(v)))).getOrElse(Map.empty),
      dvs = m.get("dvs").map(obj(_)(arr(_)(long))).getOrElse(Map.empty),
      dvFile = m.get("dvfile").map(str),
      pairKeys = m.get("pairkeys").map(arr(_)(str)).getOrElse(Nil),
      droppedPhys = m.get("droppedphys").map(arr(_)(str)).getOrElse(Nil),
      readerFeatures = m.get("readerfeatures").map(arr(_)(str)).getOrElse(Nil),
      clusteredIdx = m.get("clusteredidx").map(v => decodeRanges(str(v))),
      copyInto = m.get("copyinto").map(arr(_)(v => unb64(str(v)))).getOrElse(Nil))
  }

  /** Sorted index list → compact run-length text ("0-523,600,612-640"). */
  private def encodeRanges(idxs: Seq[Int]): String = {
    val out = new StringBuilder
    var i = 0
    while (i < idxs.size) {
      var j = i
      while (j + 1 < idxs.size && idxs(j + 1) == idxs(j) + 1) j += 1
      if (out.nonEmpty) out.append(',')
      if (j == i) out.append(idxs(i))
      else { out.append(idxs(i)).append('-').append(idxs(j)) }
      i = j + 1
    }
    out.toString
  }

  private def decodeRanges(s: String): Seq[Int] =
    if (s.isEmpty) Seq.empty
    else s.split(",").toSeq.flatMap { part =>
      part.split("-", 2) match {
        case Array(a, b) => a.trim.toInt to b.trim.toInt
        case Array(a) => Seq(a.trim.toInt)
      }
    }

  private def actionFields(a: Actions): Seq[(String, JValue)] = a match {
    case FullList(files) => Seq("files" -> strs(files))
    case CkptRef(name) => Seq("ckptfile" -> JString(name))
    case Delta(add, remove) => Seq("add" -> strs(add), "remove" -> strs(remove))
  }

  private def actionsOf(m: Map[String, JValue]): Actions =
    m.get("files").map(v => FullList(arr(v)(str)))
      .orElse(m.get("ckptfile").map(v => CkptRef(str(v))))
      .getOrElse(Delta(
        m.get("add").map(arr(_)(str)).getOrElse(Nil),
        m.get("remove").map(arr(_)(str)).getOrElse(Nil)))

  // ---- log sidecars -----------------------------------------------------

  /** A spilled DV sidecar `dv-<uuid>.json`: `{"dvs":{file:[positions]}}`. */
  def encodeDvs(dvs: Map[String, Seq[Long]]): String =
    render(Seq("dvs" -> JObject(sortedObj(dvs)(longs))))

  def decodeDvs(json: String): Map[String, Seq[Long]] =
    fields(json).get("dvs").map(obj(_)(arr(_)(long))).getOrElse(Map.empty)

  /** A vacuum anchor `vNNNNNNNN.ckpt.json`: a full list, inline or as a
    * columnar checkpoint reference. A file holding neither decodes as
    * an empty [[Delta]], which no reader takes for a full list.
    */
  def encodeAnchor(a: Actions): String = render(actionFields(a))

  def decodeAnchor(json: String): Actions = actionsOf(fields(json))

  def encodePin(p: Pin): String =
    render(Seq("pinversion" -> JLong(p.version), "pinnedfiles" -> strs(p.files)))

  def decodePin(json: String): Pin = {
    val m = fields(json)
    Pin(m.get("pinversion").map(long).getOrElse(-1L),
      m.get("pinnedfiles").map(arr(_)(str)).getOrElse(Nil))
  }

  /** Bloom pointer `vNNNNNNNN.bloom.json`. Pointers from before
    * incremental builds carry one `"data"` and no `"items"` (those
    * builds sized every file for 10⁶ items).
    */
  def encodeBloomPointer(p: BloomPointer): String = render(Seq(
    "datas" -> strs(p.datas), "cols" -> strs(p.cols),
    "fpp" -> JDouble(p.fpp), "items" -> JLong(p.items)))

  def decodeBloomPointer(json: String): BloomPointer = {
    val m = fields(json)
    BloomPointer(
      m.get("datas").map(arr(_)(str)).getOrElse(m.get("data").map(str).toSeq),
      m.get("cols").map(arr(_)(str)).getOrElse(Nil),
      double(m("fpp")),
      m.get("items").map(long).getOrElse(1000000L))
  }

  /** Zone blocks `vNNNNNNNN.zones.json`, one per column in order:
    * `[{"col":c,"zones":[{"file":f,"lo":1,"hi":2},…]},…]`.
    */
  def encodeZones(blocks: Seq[(String, ZoneMaps.Zones)]): String =
    compact(zonesJ(blocks))

  def decodeZones(json: String): Seq[(String, ZoneMaps.Zones)] =
    zonesOf(JsonMethods.parse(json))

  /** The bucketed layout's zone sidecar: the clustering contract plus
    * the zone blocks, `{"filesPerBucket":n,"blocks":[…]}`.
    */
  def encodeBucketZones(
      filesPerBucket: Int, blocks: Seq[(String, ZoneMaps.Zones)]): String =
    render(Seq("filesPerBucket" -> JLong(filesPerBucket), "blocks" -> zonesJ(blocks)))

  def decodeBucketZones(json: String): (Int, Seq[(String, ZoneMaps.Zones)]) = {
    val m = fields(json)
    (m.get("filesPerBucket").map(long(_).toInt).getOrElse(4),
      m.get("blocks").map(zonesOf).getOrElse(Nil))
  }

  private def zonesJ(blocks: Seq[(String, ZoneMaps.Zones)]): JValue =
    JArray(blocks.map { case (c, zones) =>
      jobj(Seq("col" -> JString(c), "zones" -> JArray(zones.map { case (f, lo, hi) =>
        jobj(Seq("file" -> JString(f), "lo" -> JLong(lo), "hi" -> JLong(hi)))
      }.toList)))
    }.toList)

  private def zonesOf(v: JValue): Seq[(String, ZoneMaps.Zones)] =
    arr(v) { b =>
      val m = fieldMap(b)
      str(m("col")) -> arr(m("zones")) { z =>
        val zm = fieldMap(z)
        (str(zm("file")), long(zm("lo")), long(zm("hi")))
      }
    }

  /** String-zone blocks `vNNNNNNNN.szones.json`: column names and
    * bounds base64, `[{"col":b64,"bounds":[{"file":f,"lo":b64,"hi":b64}]}]`
    * — absent `lo` is the all-NULL sentinel, absent `hi` (with `lo`)
    * unbounded above.
    */
  def encodeStrZones(blocks: Seq[(String, StrZones.Bounds)]): String =
    compact(JArray(blocks.map { case (c, bounds) =>
      jobj(Seq("col" -> JString(b64(c)), "bounds" -> JArray(bounds.map { b =>
        jobj(Seq(Some("file" -> JString(b.file)),
          b.lo.map(s => "lo" -> JString(b64(s))),
          b.hi.map(s => "hi" -> JString(b64(s)))).flatten)
      }.toList)))
    }.toList))

  def decodeStrZones(json: String): Seq[(String, StrZones.Bounds)] =
    arr(JsonMethods.parse(json)) { b =>
      val m = fieldMap(b)
      unb64(str(m("col"))) -> arr(m("bounds")) { x =>
        val bm = fieldMap(x)
        StrZones.Bound(str(bm("file")),
          bm.get("lo").map(v => unb64(str(v))), bm.get("hi").map(v => unb64(str(v))))
      }
    }

  /** Row counts `vNNNNNNNN.rows.json`: `{"full":b,"files":[{"f":…,"n":…}]}`,
    * entries sorted by file. A sidecar without `full` predates deltas
    * and was written full.
    */
  def encodeRowStats(counts: Map[String, Long], full: Boolean): String =
    render(Seq("full" -> JBool(full), "files" -> JArray(counts.toSeq.sortBy(_._1)
      .map { case (f, n) => jobj(Seq("f" -> JString(f), "n" -> JLong(n))) }.toList)))

  def decodeRowStats(json: String): (Boolean, Map[String, Long]) = {
    val m = fields(json)
    (m.get("full").forall { case JBool(b) => b; case other => bad(other) },
      m.get("files").map(arr(_) { x =>
        val fm = fieldMap(x)
        str(fm("f")) -> long(fm("n"))
      }.toMap).getOrElse(Map.empty))
  }

  /** Column statistics `colstats.json`: the analyzed version and one
    * entry per column (name base64), the histogram as a flat
    * `[lo,hi,ndv, …]` triple list. Entries written before histograms
    * lack `histh`/`hist`.
    */
  def encodeColStats(v: Long, stats: Map[String, ColStats.Stat]): String = {
    def opt(o: Option[Long]): JValue = o.map(JLong(_)).getOrElse(JNull)
    render(Seq("version" -> JLong(v), "stats" -> JArray(stats.toSeq.sortBy(_._1).map {
      case (c, s) => jobj(Seq(
        "col" -> JString(b64(c)), "ndv" -> JLong(s.ndv), "nulls" -> JLong(s.nulls),
        "min" -> opt(s.min), "max" -> opt(s.max),
        "avglen" -> opt(s.avgLen), "maxlen" -> opt(s.maxLen),
        "histh" -> s.histHeight.map(JDouble(_)).getOrElse(JNull),
        "hist" -> s.hist.map(h => JArray(h.flatMap(b =>
          Seq(JDouble(b.lo), JDouble(b.hi), JLong(b.ndv))).toList)).getOrElse(JNull)))
    }.toList)))
  }

  def decodeColStats(json: String): Option[(Long, Map[String, ColStats.Stat])] = {
    val m = fields(json)
    m.get("version").map(long).map { v =>
      def opt(x: Option[JValue]): Option[Long] = x.filter(_ != JNull).map(long)
      v -> m.get("stats").map(arr(_) { e =>
        val s = fieldMap(e)
        unb64(str(s("col"))) -> ColStats.Stat(
          long(s("ndv")), long(s("nulls")),
          opt(s.get("min")), opt(s.get("max")), opt(s.get("avglen")), opt(s.get("maxlen")),
          s.get("histh").filter(_ != JNull).map(double),
          s.get("hist").filter(_ != JNull)
            .map(arr(_)(double).grouped(3).collect {
              case Seq(lo, hi, n) => ColStats.Bin(lo, hi, n.toLong)
            }.toSeq)
            .filter(_.nonEmpty))
      }.toMap).getOrElse(Map.empty)
    }
  }

  // ---- AST helpers ------------------------------------------------------

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  private def compact(v: JValue): String = JsonMethods.compact(v)

  private def jobj(fs: Seq[(String, JValue)]): JValue = JObject(fs.toList)

  private def render(fs: Seq[(String, JValue)]): String = compact(jobj(fs))

  private def strs(xs: Seq[String]): JValue = JArray(xs.map(JString(_)).toList)

  private def longs(xs: Seq[Long]): JValue = JArray(xs.map(JLong(_)).toList)

  private def sortedObj[A](m: Map[String, A])(f: A => JValue): List[(String, JValue)] =
    m.toSeq.sortBy(_._1).map { case (k, a) => k -> f(a) }.toList

  private def nonEmpty[A](key: String, m: Map[String, A])(
      f: A => JValue): Option[(String, JValue)] =
    if (m.isEmpty) None else Some(key -> JObject(sortedObj(m)(f)))

  private def nonEmptyArr(key: String, xs: Seq[String]): Option[(String, JValue)] =
    if (xs.isEmpty) None else Some(key -> strs(xs))

  private def bad(v: JValue): Nothing =
    throw new IllegalStateException(s"malformed log JSON value: $v")

  /** Top-level fields of a JSON object; the FIRST occurrence of a key
    * wins.
    */
  private def fields(json: String): Map[String, JValue] =
    fieldMap(JsonMethods.parse(json))

  private def fieldMap(v: JValue): Map[String, JValue] = v match {
    case JObject(fs) => fs.reverse.toMap
    case other => bad(other)
  }

  private def obj[A](v: JValue)(f: JValue => A): Map[String, A] = v match {
    case JObject(fs) => fs.map { case (k, x) => k -> f(x) }.toMap
    case other => bad(other)
  }

  private def arr[A](v: JValue)(f: JValue => A): Seq[A] = v match {
    case JArray(xs) => xs.map(f)
    case other => bad(other)
  }

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other => bad(other)
  }

  private def long(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case other => bad(other)
  }

  private def double(v: JValue): Double = v match {
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case other => bad(other)
  }
}
