package graft.ingest

import java.util.zip.GZIPInputStream
import scala.collection.mutable.ListBuffer
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal OTel protobuf decoder for `.binpb[.gz]` ingest.
  *
  * Hand-rolled from the PUBLIC protobuf wire format (varint / fixed64 /
  * length-delimited / fixed32) + the public opentelemetry-proto field
  * numbers for LogsData, MetricsData and TracesData. Role of the
  * reference's `otel_logs_read` / proto readers
  * (/root/reference/internal/filereader/ingest_proto_logs.go,
  * internal/metricsprocessing/logs_ingest_duckdb.go:232) — reimplemented
  * from the wire spec, not translated.
  *
  * The three share one Resource → Scope → record nesting, decoded by ONE
  * envelope walk ([[walk]]; metrics add one Metric walk,
  * [[walkMetrics]]). Like any protobuf parser, it accepts a message's
  * fields in any order: a record gets its own resource attributes, scope
  * name and scope attributes whether those fields come before or after
  * it.
  *
  * Attribute values follow the reference's coercion rule: everything
  * stringifies, names normalize via [[Flatten.normalizeFieldName]].
  */
object OtelProto {

  // ---- wire-level reader ---------------------------------------------------

  final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def hasNext: Boolean = pos < end

    private def bounds(need: Int): Unit =
      if (pos + need > end)
        throw new IllegalArgumentException(
          s"truncated protobuf: need $need bytes at $pos, message ends at $end")

    def readVarint(): Long = {
      var shift = 0
      var out = 0L
      while (true) {
        bounds(1)
        // a valid varint is ≤10 bytes (70 bits of shift); past that the JVM's
        // shift-mod-64 would silently wrap and yield a corrupt value
        if (shift > 63)
          throw new IllegalArgumentException(
            s"malformed protobuf: varint longer than 10 bytes at $pos")
        val b = buf(pos); pos += 1
        out |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return out
        shift += 7
      }
      out
    }

    def readTag(): (Int, Int) = {
      val v = readVarint()
      ((v >>> 3).toInt, (v & 7).toInt)
    }

    def readFixed64(): Long = {
      bounds(8)
      var out = 0L
      var i = 0
      while (i < 8) { out |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8
      out
    }

    /** zigzag-encoded sint32/sint64 (scale/offset fields) */
    def readZigzag(): Long = {
      val v = readVarint()
      (v >>> 1) ^ -(v & 1L)
    }

    /** validated length prefix: rejects negative (int-wrapped) and
      * over-long lengths before any cursor movement
      */
    private def readLen(): Int = {
      val raw = readVarint()
      if (raw < 0 || raw > (end - pos))
        throw new IllegalArgumentException(
          s"bad length-delimited size $raw at $pos (message ends at $end)")
      raw.toInt
    }

    def readBytes(): Array[Byte] = {
      val len = readLen()
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len
      out
    }

    /** sub-reader over a length-delimited field */
    def readMessage(): Reader = {
      val len = readLen()
      val r = new Reader(buf, pos, pos + len)
      pos += len
      r
    }

    def readString(): String = new String(readBytes(), "UTF-8")

    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 1 => bounds(8); pos += 8
      case 2 =>
        // NOT `pos += readLen()`: compound assignment reads the OLD pos
        // before readLen() advances it past the length varint, silently
        // dropping those bytes and desyncing the walk
        val n = readLen(); pos += n
      case 5 => bounds(4); pos += 4
      case other => throw new IllegalArgumentException(s"wire type $other")
    }
  }

  // ---- OTel common ----------------------------------------------------------

  /** AnyValue → stringified (oneof: 1 string, 2 bool, 3 int, 4 double,
    * 5 array, 6 kvlist, 7 bytes)
    */
  private def anyValue(r: Reader): String = {
    var out: String = null
    while (r.hasNext) {
      val (f, w) = r.readTag()
      f match {
        case 1 => out = r.readString()
        case 2 => out = (r.readVarint() != 0).toString
        case 3 => out = r.readVarint().toString
        case 4 => out = java.lang.Double.longBitsToDouble(r.readFixed64()).toString
        case 5 => // array_value { repeated AnyValue values = 1 }
          val inner = r.readMessage()
          val parts = ListBuffer[String]()
          while (inner.hasNext) {
            val (f2, w2) = inner.readTag()
            if (f2 == 1 && w2 == 2) parts += anyValue(inner.readMessage())
            else inner.skip(w2)
          }
          out = parts.mkString("[", ",", "]")
        case 6 => // kvlist_value { repeated KeyValue values = 1 } — entries
          // are KeyValue messages, NOT AnyValue (distinct parse path)
          val inner = r.readMessage()
          val parts = ListBuffer[String]()
          while (inner.hasNext) {
            val (f2, w2) = inner.readTag()
            if (f2 == 1 && w2 == 2) {
              val (k, v) = keyValue(inner.readMessage())
              parts += s"$k:$v"
            } else inner.skip(w2)
          }
          out = parts.mkString("{", ",", "}")
        case 7 => out = java.util.Base64.getEncoder.encodeToString(r.readBytes())
        case _ => r.skip(w)
      }
    }
    out
  }

  /** repeated KeyValue {key=1, value=2} → normalized (name → string) */
  private def keyValue(r: Reader): (String, String) = {
    var k: String = null
    var v: String = null
    while (r.hasNext) {
      val (f, w) = r.readTag()
      f match {
        case 1 => k = r.readString()
        case 2 => v = anyValue(r.readMessage())
        case _ => r.skip(w)
      }
    }
    (if (k == null) "" else Flatten.normalizeFieldName(k), v)
  }

  // ---- the envelope walk -----------------------------------------------------

  /** what a record inherits from its enclosing Resource* and Scope*
    * messages (attribute names normalized)
    */
  private final case class Envelope(
      resourceAttrs: Map[String, String],
      scopeName: String,
      scopeAttrs: Map[String, String])

  /** LogsData / MetricsData / TracesData → every record with its envelope,
    * in document order. All three share one wire shape: repeated
    * Resource{Logs,Metrics,Spans}=1 { resource=1 {attributes=1},
    * scope_*=2 }, each Scope* { scope=1 {name=1, attributes=3},
    * records=2 }. `record` decodes one record message into 0..n values.
    * A scope's records take their envelope when the Resource* message
    * closes, so the resource and scope fields may come before or after
    * the records they describe.
    */
  private def walk[R](data: Array[Byte])(record: Reader => Iterable[R]): Seq[(Envelope, R)] = {
    val out = ListBuffer[(Envelope, R)]()
    val root = new Reader(data, 0, data.length)
    while (root.hasNext) {
      val (f, w) = root.readTag()
      if (f == 1 && w == 2) {
        val rs = root.readMessage()
        var resAttrs = Map.empty[String, String]
        val scopes = ListBuffer[(String, Map[String, String], Iterable[R])]()
        while (rs.hasNext) {
          val (f2, w2) = rs.readTag()
          f2 match {
            case 1 => // resource { attributes=1 }
              val res = rs.readMessage()
              while (res.hasNext) {
                val (f3, w3) = res.readTag()
                if (f3 == 1 && w3 == 2) resAttrs += keyValue(res.readMessage())
                else res.skip(w3)
              }
            case 2 => // scope_* { scope=1, records=2 }
              val ss = rs.readMessage()
              var scopeName = ""
              var scopeAttrs = Map.empty[String, String]
              val records = ListBuffer[R]()
              while (ss.hasNext) {
                val (f3, w3) = ss.readTag()
                f3 match {
                  case 1 => // scope { name=1, attributes=3 }
                    val sc = ss.readMessage()
                    while (sc.hasNext) {
                      val (f4, w4) = sc.readTag()
                      if (f4 == 1 && w4 == 2) scopeName = sc.readString()
                      else if (f4 == 3 && w4 == 2) scopeAttrs += keyValue(sc.readMessage())
                      else sc.skip(w4)
                    }
                  case 2 => records ++= record(ss.readMessage())
                  case _ => ss.skip(w3)
                }
              }
              scopes += ((scopeName, scopeAttrs, records))
            case _ => rs.skip(w2)
          }
        }
        for ((scopeName, scopeAttrs, records) <- scopes) {
          val env = Envelope(resAttrs, scopeName, scopeAttrs)
          records.foreach(r => out += ((env, r)))
        }
      } else root.skip(w)
    }
    out.toSeq
  }

  /** MetricsData → every datapoint of the Metric containers in `kinds`
    * (gauge=5, sum=7, histogram=9, exponential_histogram=10, summary=11;
    * each holds data_points=1), with its metric name, the sum's
    * is_monotonic=3 and its envelope. Other containers are skipped
    * unread. `point(kind, dp)` decodes one datapoint into 0..n values;
    * the name attaches when the Metric closes, so its position does not
    * matter.
    */
  private def walkMetrics[P](data: Array[Byte], kinds: Set[Int])(
      point: (Int, Reader) => Iterable[P]): Seq[(Envelope, (String, Boolean, P))] =
    walk(data) { m =>
      var name = ""
      var monotonic = false
      val points = ListBuffer[P]()
      while (m.hasNext) {
        val (f, w) = m.readTag()
        if (f == 1) name = m.readString()
        else if (kinds(f) && w == 2) {
          val c = m.readMessage()
          while (c.hasNext) {
            val (f2, w2) = c.readTag()
            if (f2 == 1 && w2 == 2) points ++= point(f, c.readMessage())
            else if (f == 7 && f2 == 3) monotonic = c.readVarint() != 0
            else c.skip(w2)
          }
        } else m.skip(w)
      }
      points.map(p => (name, monotonic, p))
    }

  // ---- LogsData --------------------------------------------------------------

  final case class OtelLog(
      timeUnixNano: Long,
      severityNumber: Int,
      severityText: String,
      body: String,
      attrs: Map[String, String],
      resourceAttrs: Map[String, String],
      scopeName: String,
      scopeAttrs: Map[String, String] = Map.empty)

  /** LogRecord: time_unix_nano=1 (fixed64), severity_number=2,
    * severity_text=3, body=5 (AnyValue), attributes=6
    */
  private def logRecord(r: Reader): OtelLog = {
    var t = 0L; var sevN = 0; var sevT = ""; var body = ""
    var attrs = Map.empty[String, String]
    while (r.hasNext) {
      val (f, w) = r.readTag()
      f match {
        case 1 => t = r.readFixed64()
        case 2 => sevN = r.readVarint().toInt
        case 3 => sevT = r.readString()
        case 5 => body = anyValue(r.readMessage())
        case 6 => attrs += keyValue(r.readMessage())
        case _ => r.skip(w)
      }
    }
    OtelLog(t, sevN, sevT, body, attrs, Map.empty, "")
  }

  def parseLogs(data: Array[Byte]): Seq[OtelLog] =
    walk(data)(r => Seq(logRecord(r))).map { case (e, l) =>
      l.copy(resourceAttrs = e.resourceAttrs, scopeName = e.scopeName, scopeAttrs = e.scopeAttrs)
    }

  // ---- MetricsData -----------------------------------------------------------

  /** one decoded number datapoint (gauge or sum); metricType follows the
    * reference's cooked vocabulary: "gauge" | "count"
    * (docs/design/db-parquet/metrics.md:210-218; ingest table function role
    * of internal/metricsprocessing/metric_ingest_duckdb.go:238)
    */
  final case class OtelMetric(
      timeUnixNano: Long,
      metricName: String,
      metricType: String,
      value: Double,
      attrs: Map[String, String],
      resourceAttrs: Map[String, String],
      scopeName: String,
      scopeAttrs: Map[String, String] = Map.empty)

  /** NumberDataPoint: start_time=2, time_unix_nano=3, as_double=4,
    * as_int=6 (sfixed64), attributes=7
    */
  private def numberDataPoint(r: Reader): (Long, Double, Map[String, String]) = {
    var t = 0L
    var v = 0.0
    var attrs = Map.empty[String, String]
    while (r.hasNext) {
      val (f, w) = r.readTag()
      f match {
        case 3 => t = r.readFixed64()
        case 4 => v = java.lang.Double.longBitsToDouble(r.readFixed64())
        case 6 => v = r.readFixed64().toDouble
        case 7 => attrs += keyValue(r.readMessage())
        case _ => r.skip(w)
      }
    }
    (t, v, attrs)
  }

  /** One decoded metric exemplar — the measurement-level trace link OTel
    * attaches to number/histogram/exponential-histogram datapoints (the
    * reference's ingest readers process exemplars alongside datapoints,
    * internal/filereader/ingest_proto_traces.go:86; its eval types carry
    * timestamp+tags exemplars, promql/eval_types.go:60-64). `attrs` is
    * the union of the datapoint attributes and the exemplar's
    * filtered_attributes (the spec keeps them disjoint: filtered ones are
    * exactly those dropped from the datapoint set).
    */
  final case class OtelExemplar(
      timeUnixNano: Long,
      metricName: String,
      metricType: String,
      value: Double,
      traceId: String,
      spanId: String,
      attrs: Map[String, String],
      resourceAttrs: Map[String, String],
      scopeName: String,
      scopeAttrs: Map[String, String] = Map.empty)

  /** Exemplar (metrics.proto): time_unix_nano=2 (fixed64), as_double=3,
    * span_id=4 (bytes), trace_id=5 (bytes), as_int=6 (sfixed64),
    * filtered_attributes=7
    */
  private def exemplarMsg(r: Reader): (Long, Double, String, String, Map[String, String]) = {
    var t = 0L; var v = 0.0; var sid = ""; var tid = ""
    var fattrs = Map.empty[String, String]
    while (r.hasNext) {
      val (f, w) = r.readTag()
      f match {
        case 2 => t = r.readFixed64()
        case 3 => v = java.lang.Double.longBitsToDouble(r.readFixed64())
        case 4 => sid = hex(r.readBytes())
        case 5 => tid = hex(r.readBytes())
        case 6 => v = r.readFixed64().toDouble
        case 7 => fattrs += keyValue(r.readMessage())
        case _ => r.skip(w)
      }
    }
    (t, v, tid, sid, fattrs)
  }

  /** scan ONE datapoint message for its attributes + exemplars (field
    * numbers differ per datapoint kind; everything else skipped)
    */
  private def dpExemplars(r: Reader, attrsField: Int, exemplarsField: Int)
      : (Map[String, String], Seq[(Long, Double, String, String, Map[String, String])]) = {
    var attrs = Map.empty[String, String]
    val exs =
      ListBuffer[(Long, Double, String, String, Map[String, String])]()
    while (r.hasNext) {
      val (f, w) = r.readTag()
      if (f == attrsField && w == 2) attrs += keyValue(r.readMessage())
      else if (f == exemplarsField && w == 2) exs += exemplarMsg(r.readMessage())
      else r.skip(w)
    }
    (attrs, exs.toSeq)
  }

  final case class OtelHistogram(
      timeUnixNano: Long,
      metricName: String,
      count: Long,
      sum: Double,
      min: Double,
      max: Double,
      bucketCounts: Seq[Long],
      explicitBounds: Seq[Double],
      attrs: Map[String, String],
      resourceAttrs: Map[String, String],
      scopeName: String,
      scopeAttrs: Map[String, String] = Map.empty)

  /** HistogramDataPoint: time=3, count=4 (fixed64), sum=5, bucket_counts=6
    * (packed fixed64), explicit_bounds=7 (packed double), attributes=9,
    * min=11, max=12
    */
  private def histogramDataPoint(r: Reader): OtelHistogram = {
    var t = 0L; var n = 0L; var s = 0.0
    var mn = Double.NaN; var mx = Double.NaN
    val bc = ListBuffer[Long]()
    val eb = ListBuffer[Double]()
    var attrs = Map.empty[String, String]
    while (r.hasNext) {
      val (f, w) = r.readTag()
      f match {
        case 3 => t = r.readFixed64()
        case 4 => n = r.readFixed64()
        case 5 => s = java.lang.Double.longBitsToDouble(r.readFixed64())
        case 6 => // repeated fixed64: packed (wire 2) or unpacked (wire 1)
          if (w == 2) {
            val p = r.readMessage()
            while (p.hasNext) bc += p.readFixed64()
          } else bc += r.readFixed64()
        case 7 => // repeated double: packed or unpacked
          if (w == 2) {
            val p = r.readMessage()
            while (p.hasNext) eb += java.lang.Double.longBitsToDouble(p.readFixed64())
          } else eb += java.lang.Double.longBitsToDouble(r.readFixed64())
        case 9 => attrs += keyValue(r.readMessage())
        case 11 => mn = java.lang.Double.longBitsToDouble(r.readFixed64())
        case 12 => mx = java.lang.Double.longBitsToDouble(r.readFixed64())
        case _ => r.skip(w)
      }
    }
    OtelHistogram(t, "", n, s, mn, mx, bc.toSeq, eb.toSeq, attrs, Map.empty, "")
  }

  /** one decoded Summary datapoint (client-computed quantiles; the
    * reference types summaries as the histogram class,
    * internal/oteltools/pkg/fingerprinter/tid.go:38-39)
    */
  final case class OtelSummary(
      timeUnixNano: Long,
      metricName: String,
      count: Long,
      sum: Double,
      quantileValues: Seq[(Double, Double)],
      attrs: Map[String, String],
      resourceAttrs: Map[String, String],
      scopeName: String,
      scopeAttrs: Map[String, String] = Map.empty)

  /** SummaryDataPoint (metrics.proto): time=3 (fixed64), count=4
    * (fixed64), sum=5 (double), quantile_values=6 (ValueAtQuantile
    * {quantile=1, value=2} doubles), attributes=7
    */
  private def summaryDataPoint(r: Reader): OtelSummary = {
    var t = 0L; var n = 0L; var s = 0.0
    val qvs = ListBuffer[(Double, Double)]()
    var attrs = Map.empty[String, String]
    while (r.hasNext) {
      val (f, w) = r.readTag()
      f match {
        case 3 => t = r.readFixed64()
        case 4 => n = r.readFixed64()
        case 5 => s = java.lang.Double.longBitsToDouble(r.readFixed64())
        case 6 =>
          val q = r.readMessage()
          var qq = 0.0; var vv = 0.0
          while (q.hasNext) {
            val (f2, w2) = q.readTag()
            f2 match {
              case 1 => qq = java.lang.Double.longBitsToDouble(q.readFixed64())
              case 2 => vv = java.lang.Double.longBitsToDouble(q.readFixed64())
              case _ => q.skip(w2)
            }
          }
          qvs += ((qq, vv))
        case 7 => attrs += keyValue(r.readMessage())
        case _ => r.skip(w)
      }
    }
    OtelSummary(t, "", n, s, qvs.toSeq, attrs, Map.empty, "")
  }

  def parseSummaries(data: Array[Byte]): Seq[OtelSummary] =
    walkMetrics(data, Set(11))((_, dp) => Seq(summaryDataPoint(dp))).map {
      case (e, (name, _, s)) => s.copy(metricName = name, resourceAttrs = e.resourceAttrs,
        scopeName = e.scopeName, scopeAttrs = e.scopeAttrs)
    }

  /** ExponentialHistogramDataPoint (metrics.proto): attributes=1, time=3
    * (fixed64), count=4 (fixed64), sum=5 (double), scale=6 (sint32 zigzag),
    * zero_count=7 (fixed64), positive=8 / negative=9 (Buckets: offset=1
    * sint32 zigzag, bucket_counts=2 packed varint), min=12, max=13.
    * Base = 2^(2^-scale); positive bucket i covers
    * (base^(offset+i), base^(offset+i+1)].
    */
  final case class OtelExpoHistogram(
      timeUnixNano: Long,
      metricName: String,
      count: Long,
      sum: Double,
      min: Double,
      max: Double,
      scale: Int,
      zeroCount: Long,
      posOffset: Int,
      posCounts: Seq[Long],
      negOffset: Int,
      negCounts: Seq[Long],
      attrs: Map[String, String],
      resourceAttrs: Map[String, String],
      scopeName: String,
      scopeAttrs: Map[String, String] = Map.empty)

  private def expoBucketsMsg(r: Reader): (Int, Seq[Long]) = {
    var off = 0
    val cs = ListBuffer[Long]()
    while (r.hasNext) {
      val (f, w) = r.readTag()
      f match {
        case 1 => off = r.readZigzag().toInt
        case 2 => // repeated uint64: packed (wire 2) or unpacked (wire 0)
          if (w == 2) {
            val p = r.readMessage()
            while (p.hasNext) cs += p.readVarint()
          } else cs += r.readVarint()
        case _ => r.skip(w)
      }
    }
    (off, cs.toSeq)
  }

  private def expoHistogramDataPoint(r: Reader): OtelExpoHistogram = {
    var t = 0L; var n = 0L; var s = 0.0
    var mn = Double.NaN; var mx = Double.NaN
    var scale = 0; var zc = 0L
    var po = 0; var pc: Seq[Long] = Nil
    var no = 0; var nc: Seq[Long] = Nil
    var attrs = Map.empty[String, String]
    while (r.hasNext) {
      val (f, w) = r.readTag()
      f match {
        case 1 => attrs += keyValue(r.readMessage())
        case 3 => t = r.readFixed64()
        case 4 => n = r.readFixed64()
        case 5 => s = java.lang.Double.longBitsToDouble(r.readFixed64())
        case 6 => scale = r.readZigzag().toInt
        case 7 => zc = r.readFixed64()
        case 8 => val (o, c) = expoBucketsMsg(r.readMessage()); po = o; pc = c
        case 9 => val (o, c) = expoBucketsMsg(r.readMessage()); no = o; nc = c
        case 12 => mn = java.lang.Double.longBitsToDouble(r.readFixed64())
        case 13 => mx = java.lang.Double.longBitsToDouble(r.readFixed64())
        case _ => r.skip(w)
      }
    }
    OtelExpoHistogram(t, "", n, s, mn, mx, scale, zc, po, pc, no, nc,
      attrs, Map.empty, "")
  }

  /** MetricsData → decoded exponential-histogram datapoints (Metric
    * field 10)
    */
  def parseExpoHistograms(data: Array[Byte]): Seq[OtelExpoHistogram] =
    walkMetrics(data, Set(10))((_, dp) => Seq(expoHistogramDataPoint(dp))).map {
      case (e, (name, _, h)) => h.copy(metricName = name, resourceAttrs = e.resourceAttrs,
        scopeName = e.scopeName, scopeAttrs = e.scopeAttrs)
    }

  /** MetricsData → decoded histogram datapoints (Metric field 9) */
  def parseHistograms(data: Array[Byte]): Seq[OtelHistogram] =
    walkMetrics(data, Set(9))((_, dp) => Seq(histogramDataPoint(dp))).map {
      case (e, (name, _, h)) => h.copy(metricName = name, resourceAttrs = e.resourceAttrs,
        scopeName = e.scopeName, scopeAttrs = e.scopeAttrs)
    }

  /** MetricsData → decoded gauge/sum number datapoints. Exponential-
    * histogram / summary points are skipped; classic histogram datapoints
    * decode via [[parseHistograms]] / [[readHistograms]].
    */
  def parseMetrics(data: Array[Byte]): Seq[OtelMetric] =
    walkMetrics(data, Set(5, 7))((_, dp) => Seq(numberDataPoint(dp))).map {
      case (e, (name, monotonic, (t, v, attrs))) =>
        OtelMetric(t, name, if (monotonic) "count" else "gauge", v, attrs,
          e.resourceAttrs, e.scopeName, e.scopeAttrs)
    }

  /** Metric container field → (cooked type, datapoint attributes field,
    * datapoint exemplars field)
    */
  private val exemplarKinds = Map(
    5 -> ("gauge", 7, 5), 7 -> ("sum", 7, 5),
    9 -> ("histogram", 9, 8), 10 -> ("exponential_histogram", 1, 11))

  /** MetricsData → every exemplar attached to any datapoint of any
    * metric kind — gauge (Metric field 5) and sum (7) number datapoints
    * (attributes=7, exemplars=5), classic histograms (9: attributes=9,
    * exemplars=8), exponential histograms (10: attributes=1,
    * exemplars=11).
    */
  def parseExemplars(data: Array[Byte]): Seq[OtelExemplar] =
    walkMetrics(data, exemplarKinds.keySet) { (kind, dp) =>
      val (mtype, attrsField, exemplarsField) = exemplarKinds(kind)
      val (dpAttrs, exs) = dpExemplars(dp, attrsField, exemplarsField)
      exs.map(x => (mtype, dpAttrs, x))
    }.map { case (e, (name, _, (mtype, dpAttrs, (t, v, tid, sid, fattrs)))) =>
      OtelExemplar(t, name, mtype, v, tid, sid, dpAttrs ++ fattrs,
        e.resourceAttrs, e.scopeName, e.scopeAttrs)
    }

  // ---- TracesData ------------------------------------------------------------

  final case class OtelSpan(
      traceId: String,
      spanId: String,
      parentSpanId: String,
      name: String,
      kind: Int,
      startUnixNano: Long,
      endUnixNano: Long,
      statusCode: Int,
      statusMessage: String,
      attrs: Map[String, String],
      resourceAttrs: Map[String, String],
      scopeName: String,
      scopeAttrs: Map[String, String] = Map.empty)

  private def hex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  val spanKindNames: Array[String] = Array(
    "SPAN_KIND_UNSPECIFIED", "SPAN_KIND_INTERNAL", "SPAN_KIND_SERVER",
    "SPAN_KIND_CLIENT", "SPAN_KIND_PRODUCER", "SPAN_KIND_CONSUMER")

  val statusCodeNames: Array[String] =
    Array("STATUS_CODE_UNSET", "STATUS_CODE_OK", "STATUS_CODE_ERROR")

  /** Span: trace_id=1, span_id=2, parent_span_id=4, name=5, kind=6,
    * start=7, end=8 (fixed64 ns), attributes=9, status=15 {message=2,
    * code=3} (role of internal/filereader/ingest_proto_traces.go:1-332)
    */
  private def span(r: Reader): OtelSpan = {
    var traceId = ""; var spanId = ""; var parent = ""
    var name = ""; var kind = 0
    var startNs = 0L; var endNs = 0L
    var code = 0; var msg = ""
    var attrs = Map.empty[String, String]
    while (r.hasNext) {
      val (f, w) = r.readTag()
      f match {
        case 1 => traceId = hex(r.readBytes())
        case 2 => spanId = hex(r.readBytes())
        case 4 => parent = hex(r.readBytes())
        case 5 => name = r.readString()
        case 6 => kind = r.readVarint().toInt
        case 7 => startNs = r.readFixed64()
        case 8 => endNs = r.readFixed64()
        case 9 => attrs += keyValue(r.readMessage())
        case 15 => // Status { message=2, code=3 }
          val st = r.readMessage()
          while (st.hasNext) {
            val (f2, w2) = st.readTag()
            f2 match {
              case 2 => msg = st.readString()
              case 3 => code = st.readVarint().toInt
              case _ => st.skip(w2)
            }
          }
        case _ => r.skip(w)
      }
    }
    OtelSpan(traceId, spanId, parent, name, kind, startNs, endNs, code, msg,
      attrs, Map.empty, "")
  }

  def parseSpans(data: Array[Byte]): Seq[OtelSpan] =
    walk(data)(r => Seq(span(r))).map { case (e, s) =>
      s.copy(resourceAttrs = e.resourceAttrs, scopeName = e.scopeName, scopeAttrs = e.scopeAttrs)
    }

  // ---- Spark integration -----------------------------------------------------

  private def maybeGunzip(path: String, content: Array[Byte]): Array[Byte] =
    if (path.endsWith(".gz")) {
      val in = new GZIPInputStream(new java.io.ByteArrayInputStream(content))
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } else content

  /** every `.binpb[.gz]` file under `path`, gunzipped and decoded by `parse` */
  private def decodeFiles[T <: Product : TypeTag](spark: SparkSession, path: String)(
      parse: Array[Byte] => Seq[T]): Dataset[T] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (p, c) => parse(maybeGunzip(p, c)) }
  }

  /** session conf key: "true" → [[readLogs]] assigns reference-parity
    * `chq_fingerprint` per record by routing the decoded body through
    * [[graft.ops.FingerprintCompat.fingerprintLines]] — the reference's
    * logs-ingest motion (internal/metricsprocessing/
    * logs_ingest_processor.go:793-803: fingerprinter.Fingerprint(message,
    * trieClusterManager) assigns RowKeyCFingerprint before the segment
    * write; same call in log_translating_reader.go:153). Opt-in exactly
    * like [[graft.ingest.Segments.SketchProtoCompatKey]]: graft-native
    * pipelines keep assigning [[graft.ingest.LogFingerprint]] ids
    * downstream; the flag is for writing LOG segments a reference
    * deployment reads with parity cluster ids end-to-end.
    */
  val LogsFpcCompatKey = "spark.graft.logs.fpcCompat"

  /** `.binpb[.gz]` OTel logs → cooked logs DataFrame: chq_timestamp/tsns,
    * log_level, log_message, scope_name + flattened resource_* / attr_*
    * string columns (dynamic union across records, missing → null).
    *
    * `fpcCompat = Some(b)` pins the choice for this read; the session
    * conf is the deployment-wide default (per-read pinning over
    * shared-conf mutation, the r13 ADVICE rule).
    *
    * Tenancy: the reference's ingest worker fingerprints PER TENANT
    * (logs_ingest_processor.go: fingerprintManager.GetTenant(orgID)
    * before Fingerprint), so templates from different orgs never
    * Jaccard-merge. Pass `fpcOrgAttr` — the name of a widened column
    * (e.g. "resource_customer_id") — to mirror that: each org's lines
    * route through its own trie
    * ([[graft.ops.FingerprintCompat.fingerprintLinesByOrg]]). Without
    * it the whole batch shares ONE trie — correct only under the
    * single-tenant-per-read assumption (one org per binpb file, the
    * usual collector layout); a mixed-org batch read that way can
    * cross-tenant-merge templates a per-tenant replay would not.
    */
  def readLogs(spark: SparkSession, path: String,
      fpcCompat: Option[Boolean] = None,
      fpcOrgAttr: Option[String] = None): DataFrame = {
    // shared widen path: gunzip + wire decode runs once (materialized), the
    // key-union pass and the returned plan both read the decoded rows
    val widened = widenAttrs(decodeFiles(spark, path)(parseLogs).toDF(),
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"), // integer div: ns epochs exceed double's 2^53
      col("timeUnixNano").as("chq_tsns"),
      col("severityText").as("log_level"),
      col("severityNumber").as("chq_severity_number"),
      col("body").as("log_message"))
      .withColumn("metric_name", lit("log_events"))
    // an explicit per-tenant request IMPLIES compat fingerprinting (the
    // parameter exists only for it); pinning fpcCompat=false alongside
    // it is a contradiction that must error, not silently skip the
    // tenancy the caller asked for
    val compat = fpcCompat.getOrElse(fpcOrgAttr.isDefined ||
      spark.conf.getOption(LogsFpcCompatKey).contains("true"))
    require(compat || fpcOrgAttr.isEmpty,
      "fpcOrgAttr requests per-tenant compat fingerprinting but fpcCompat is pinned false")
    if (compat) {
      val fp = fpcOrgAttr match {
        case Some(orgAttr) =>
          require(widened.schema.fieldNames.contains(orgAttr),
            s"fpcOrgAttr '$orgAttr' is not a column of the decoded batch " +
              s"(have: ${widened.schema.fieldNames.mkString(", ")})")
          graft.ops.FingerprintCompat.fingerprintLinesByOrg(widened,
            coalesce(col("log_message"), lit("")), col(orgAttr),
            new graft.ops.FingerprintCompat.TenantRegistry())
        case None =>
          graft.ops.FingerprintCompat.fingerprintLines(widened,
            coalesce(col("log_message"), lit("")))
      }
      fp.withColumn("chq_fingerprint", col("fpc_fingerprint"))
        .drop("fpc_fingerprint", "fpc_level") // severity stays the record's own, like the reference
    } else widened
  }

  /** select `cols` plus the record's envelope (scope_name and the three
    * attribute maps), then widen the maps into attr_* / resource_* /
    * scope_* string columns (dynamic union across records; missing →
    * null). The key-union pass is a distinct-aggregate over key names
    * only — bounded by distinct key count, not data volume.
    */
  private def widenAttrs(decoded: DataFrame, cols: Column*): DataFrame = {
    import decoded.sparkSession.implicits._
    // the decoded points feed two jobs (key-union collect + the returned
    // plan). GraftSession.materialize runs the decode once; in the default
    // localCheckpoint mode the blocks are released by the ContextCleaner
    // when the plan is GC'd, so repeated reads don't leak session-lifetime
    // cache entries; with spark.graft.checkpointDir set the blocks live on
    // reliable storage and survive executor loss.
    val df = graft.GraftSession.materialize(decoded.select(cols ++ Seq(
      col("scopeName").as("scope_name"),
      col("attrs"), col("resourceAttrs"), col("scopeAttrs")): _*))
    val keys = df.select(
      explode(concat(
        transform(map_keys(col("attrs")), k => concat(lit("attr_"), k)),
        transform(map_keys(col("resourceAttrs")), k => concat(lit("resource_"), k)),
        transform(map_keys(col("scopeAttrs")), k => concat(lit("scope_"), k)))))
      .distinct().as[String].collect().sorted
    val withCols = keys.foldLeft(df) { (d, k) =>
      if (k.startsWith("attr_")) d.withColumn(k, col("attrs").getItem(k.stripPrefix("attr_")))
      else if (k.startsWith("scope_")) d.withColumn(k, col("scopeAttrs").getItem(k.stripPrefix("scope_")))
      else d.withColumn(k, col("resourceAttrs").getItem(k.stripPrefix("resource_")))
    }
    withCols.drop("attrs", "resourceAttrs", "scopeAttrs")
  }

  /** the decoded stats columns onto the cooked chq_rollup_* columns */
  private def rollupCols(stats: String*): Seq[Column] =
    stats.map(s => col(s).as(s"chq_rollup_$s"))

  /** `.binpb[.gz]` OTel metrics → raw metric points ready for
    * [[MetricsPreAgg.preAggregate]]: chq_timestamp (ms), metric_name,
    * chq_metric_type, value + flattened attr_* / resource_* strings.
    */
  def readMetrics(spark: SparkSession, path: String): DataFrame =
    widenAttrs(decodeFiles(spark, path)(parseMetrics).toDF(),
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"),
      col("timeUnixNano").as("chq_tsns"),
      col("metricName").as("metric_name"),
      col("metricType").as("chq_metric_type"),
      col("value"))

  /** `.binpb[.gz]` OTel metrics → decoded histogram rows: count/sum/min/max
    * map straight onto the cooked chq_rollup_* columns; bucket counts and
    * bounds ride along as arrays for sketch reconstruction.
    */
  def readHistograms(spark: SparkSession, path: String): DataFrame =
    widenAttrs(decodeFiles(spark, path)(parseHistograms).toDF(), Seq(
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"),
      col("metricName").as("metric_name"),
      lit("histogram").as("chq_metric_type")) ++
      rollupCols("count", "sum", "min", "max") ++ Seq(
      col("bucketCounts").as("bucket_counts"),
      col("explicitBounds").as("explicit_bounds")): _*)

  /** `.binpb[.gz]` OTel exponential-histogram datapoints → decoded rows:
    * count/sum/min/max onto the cooked chq_rollup_* columns; scale,
    * zero_count, and the positive/negative (offset, counts) bucket arrays
    * ride along. Base = 2^(2^-scale), so these buckets convert losslessly
    * to log-bucket sketch bins.
    */
  def readExpoHistograms(spark: SparkSession, path: String): DataFrame =
    widenAttrs(decodeFiles(spark, path)(parseExpoHistograms).toDF(), Seq(
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"),
      col("metricName").as("metric_name"),
      lit("exponential_histogram").as("chq_metric_type")) ++
      rollupCols("count", "sum", "min", "max") ++ Seq(
      col("scale"),
      col("zeroCount").as("zero_count"),
      col("posOffset").as("pos_offset"),
      col("posCounts").as("pos_counts"),
      col("negOffset").as("neg_offset"),
      col("negCounts").as("neg_counts")): _*)

  /** `.binpb[.gz]` OTel metrics → decoded EXEMPLAR rows (one per exemplar
    * on any datapoint of any metric kind): chq_timestamp/tsns (the
    * exemplar's own measurement time), metric_name, chq_metric_type,
    * exemplar_value, exemplar_trace_id / exemplar_span_id (hex — join
    * keys against span segments' span_trace_id), plus the widened
    * attr_* / resource_* / scope_* context (datapoint attributes unioned
    * with the exemplar's filtered_attributes).
    */
  def readExemplars(spark: SparkSession, path: String): DataFrame =
    widenAttrs(decodeFiles(spark, path)(parseExemplars).toDF(),
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"),
      col("timeUnixNano").as("chq_tsns"),
      col("metricName").as("metric_name"),
      col("metricType").as("chq_metric_type"),
      col("value").as("exemplar_value"),
      col("traceId").as("exemplar_trace_id"),
      col("spanId").as("exemplar_span_id"))

  /** a histogram datapoint with its buckets already converted to a
    * DDSketch blob: (time, name, count, sum, min, max, sketch, attrs,
    * resource attrs, scope name, scope attrs)
    */
  private type SketchRow = (Long, String, Long, Double, Double, Double, Array[Byte],
    Map[String, String], Map[String, String], String, Map[String, String])

  /** sketch rows → cooked rows: count/sum/min/max onto chq_rollup_*, the
    * blob onto `chq_sketch`
    */
  private def sketchFrame(rows: Dataset[SketchRow], metricType: String): DataFrame =
    widenAttrs(rows.toDF("timeUnixNano", "metricName", "count", "sum", "min", "max",
        "sketch", "attrs", "resourceAttrs", "scopeName", "scopeAttrs"), Seq(
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"),
      col("metricName").as("metric_name"),
      lit(metricType).as("chq_metric_type")) ++
      rollupCols("count", "sum", "min", "max") :+
      col("sketch").as("chq_sketch"): _*)

  /** [[readExpoHistograms]] with each datapoint's buckets converted to a
    * `chq_sketch` DDSketch blob (gamma = the histogram's own base — an
    * exact bin-to-bin mapping, [[graft.sketch.ExpoBridge]]), so ingested
    * exponential histograms feed histogram_quantile / quantile_over_time
    * through the same sketch path as pre-aggregated metrics. Conversion
    * happens inside the decode pass — no extra job, no UDF.
    */
  def readExpoHistogramSketches(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    sketchFrame(decodeFiles(spark, path)(parseExpoHistograms).map { h =>
      val sk = graft.sketch.ExpoBridge.fromExpo(h.scale, h.zeroCount,
        h.posOffset, h.posCounts, h.negOffset, h.negCounts,
        h.count, h.sum, h.min, h.max)
      (h.timeUnixNano, h.metricName, h.count, h.sum, h.min, h.max,
        sk.serialize(), h.attrs, h.resourceAttrs, h.scopeName, h.scopeAttrs)
    }, "exponential_histogram")
  }

  /** [[readHistograms]] with each datapoint's explicit buckets converted
    * to a `chq_sketch` DDSketch blob (midpoint re-binning,
    * [[graft.sketch.ExplicitBridge]]) — explicit-bounds histograms feed
    * histogram_quantile / quantile_over_time through the same sketch path
    * as pre-aggregated metrics and exponential histograms.
    */
  def readHistogramSketches(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    sketchFrame(decodeFiles(spark, path)(parseHistograms).map { h =>
      val sk = graft.sketch.ExplicitBridge.fromExplicit(h.bucketCounts,
        h.explicitBounds, h.count, h.sum, h.min, h.max)
      (h.timeUnixNano, h.metricName, h.count, h.sum, h.min, h.max,
        sk.serialize(), h.attrs, h.resourceAttrs, h.scopeName, h.scopeAttrs)
    }, "histogram")
  }

  /** `.binpb[.gz]` OTel metrics (Summary datapoints) → cooked rows:
    * client-computed quantiles land on the cooked percentile columns
    * (chq_rollup_p50/p90/p95/p99 when present) next to exact count/sum —
    * the cooked contract's percentile surface without a sketch
    * (docs/design/db-parquet/metrics.md:85-115).
    */
  def readSummaries(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val rows = decodeFiles(spark, path)(parseSummaries)
      .map { s =>
        (s.timeUnixNano, s.metricName, s.count, s.sum, s.quantileValues.toMap,
          s.attrs, s.resourceAttrs, s.scopeName, s.scopeAttrs)
      }
      .toDF("timeUnixNano", "metricName", "count", "sum", "qvs",
        "attrs", "resourceAttrs", "scopeName", "scopeAttrs")
    val base = widenAttrs(rows, Seq(
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"),
      col("metricName").as("metric_name"),
      lit("summary").as("chq_metric_type")) ++
      rollupCols("count", "sum") :+
      col("qvs"): _*)
    Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75",
      0.9 -> "p90", 0.95 -> "p95", 0.99 -> "p99")
      .foldLeft(base) { case (df, (q, nm)) =>
        df.withColumn(s"chq_rollup_$nm", element_at(col("qvs"), lit(q)))
      }
      .drop("qvs")
  }

  /** `.binpb[.gz]` OTel traces → cooked span columns
    * (docs/design/db-parquet/traces.md shapes): ids as lowercase hex,
    * kind/status as enum-name strings, span_duration in ms.
    */
  def readSpans(spark: SparkSession, path: String): DataFrame = {
    // enum name lookup as element_at over a literal array (codegen'd; out of
    // range → null → coalesce to the UNSPECIFIED/UNSET name)
    def nameOf(c: Column, names: Array[String]) =
      coalesce(element_at(array(names.map(lit): _*), c.cast("int") + 1), lit(names(0)))
    val widened = widenAttrs(decodeFiles(spark, path)(parseSpans).toDF(),
      expr("startUnixNano DIV 1000000").as("chq_timestamp"),
      col("startUnixNano").as("chq_tsns"),
      col("traceId").as("span_trace_id"),
      col("spanId").as("span_id"),
      col("parentSpanId").as("span_parent_span_id"),
      col("name").as("span_name"),
      nameOf(col("kind"), spanKindNames).as("span_kind"),
      nameOf(col("statusCode"), statusCodeNames).as("span_status_code"),
      col("statusMessage").as("span_status_message"),
      expr("(endUnixNano - startUnixNano) DIV 1000000").as("span_duration"),
      expr("endUnixNano DIV 1000000").as("span_end_timestamp"))
    // reference-parity span fingerprint, computed at ingest exactly like
    // the reference's trace reader (ingest_proto_traces.go:283 assigns
    // CalculateSpanFingerprintFromRow over the same widened row keys,
    // pipeline/wkk/intern.go:251-289). The reference's span_kind string
    // is pdata's Kind().String() ("Server"), not the proto enum name
    // this frame keeps in span_kind — map just for the hash input.
    def ac(n: String): org.apache.spark.sql.Column =
      if (widened.columns.contains(n)) coalesce(col(n), lit("")) else lit("")
    val pdataKind = OtelProto.spanKindNames.zip(Seq(
      "Unspecified", "Internal", "Server", "Client", "Producer", "Consumer"))
      .foldLeft(lit("Unspecified")) { case (acc, (proto, pd)) =>
        when(col("span_kind") === proto, lit(pd)).otherwise(acc)
      }
    widened.withColumn("chq_fingerprint",
      graft.ops.CompatHash.spanFingerprint(
        ac("resource_k8s_cluster_name"), ac("resource_k8s_namespace_name"),
        ac("resource_service_name"), pdataKind, col("span_name"),
        messagingSystem = ac("attr_messaging_system"),
        messagingOperationType = ac("attr_messaging_operation_type"),
        messagingDestinationName = ac("attr_messaging_destination_name"),
        dbSystem = ac("attr_db_system_name"),
        dbNamespace = ac("attr_db_namespace"),
        dbOperationName = ac("attr_db_operation_name"),
        serverAddress = ac("attr_server_address"),
        dbCollectionName = ac("attr_db_collection_name"),
        httpRequestMethod = ac("attr_http_request_method"),
        urlTemplate = ac("attr_url_template")))
  }

  // ---- tiny encoder (fixtures/tests; also documents the wire format) ---------

  object Encode {
    def varint(v: Long): Array[Byte] = {
      val out = scala.collection.mutable.ArrayBuffer[Byte]()
      var x = v
      while ((x & ~0x7fL) != 0) { out += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
      out += (x & 0x7f).toByte
      out.toArray
    }
    def tag(field: Int, wire: Int): Array[Byte] = varint((field.toLong << 3) | wire)
    def ld(field: Int, payload: Array[Byte]): Array[Byte] =
      tag(field, 2) ++ varint(payload.length) ++ payload
    def str(field: Int, s: String): Array[Byte] = ld(field, s.getBytes("UTF-8"))
    def fixed64(field: Int, v: Long): Array[Byte] =
      tag(field, 1) ++ (0 until 8).map(i => ((v >>> (8 * i)) & 0xff).toByte).toArray
    def vint(field: Int, v: Long): Array[Byte] = tag(field, 0) ++ varint(v)

    def anyString(s: String): Array[Byte] = str(1, s)
    def kv(key: String, value: String): Array[Byte] =
      str(1, key) ++ ld(2, anyString(value))

    def logRecord(timeNs: Long, sevNum: Int, sevText: String, body: String,
        attrs: Seq[(String, String)]): Array[Byte] =
      fixed64(1, timeNs) ++ vint(2, sevNum) ++ str(3, sevText) ++
        ld(5, anyString(body)) ++
        attrs.flatMap { case (k, v) => ld(6, kv(k, v)) }

    /** one Resource{Logs,Metrics,Spans} block (field 1 of its *Data
      * message): resource=1 {attributes=1}, scope_*=2 {scope=1 {name=1,
      * attributes=3}, records=2}
      */
    private def envelope(resourceAttrs: Seq[(String, String)], scopeName: String,
        scopeAttrs: Seq[(String, String)], records: Seq[Array[Byte]]): Array[Byte] = {
      val resource = resourceAttrs.flatMap { case (k, v) => ld(1, kv(k, v)) }.toArray
      val scope = str(1, scopeName) ++
        scopeAttrs.flatMap { case (k, v) => ld(3, kv(k, v)) }.toArray
      ld(1, ld(1, resource) ++ ld(2, ld(1, scope) ++ records.flatMap(r => ld(2, r))))
    }

    def logsData(resourceAttrs: Seq[(String, String)], scopeName: String,
        records: Seq[Array[Byte]],
        scopeAttrs: Seq[(String, String)] = Nil): Array[Byte] =
      envelope(resourceAttrs, scopeName, scopeAttrs, records)

    def dbl(field: Int, v: Double): Array[Byte] =
      fixed64(field, java.lang.Double.doubleToLongBits(v))

    def anyKvList(entries: Seq[(String, String)]): Array[Byte] =
      ld(6, entries.flatMap { case (k, v) => ld(1, kv(k, v)) }.toArray)

    def anyArray(values: Seq[String]): Array[Byte] =
      ld(5, values.flatMap(v => ld(1, anyString(v))).toArray)

    /** Exemplar: time_unix_nano=2, as_double=3, span_id=4, trace_id=5,
      * filtered_attributes=7
      */
    def exemplar(timeNs: Long, value: Double, traceIdHex: String,
        spanIdHex: String,
        filteredAttrs: Seq[(String, String)] = Nil): Array[Byte] =
      fixed64(2, timeNs) ++ dbl(3, value) ++
        ld(4, hexBytes(spanIdHex)) ++ ld(5, hexBytes(traceIdHex)) ++
        filteredAttrs.flatMap { case (k, v) => ld(7, kv(k, v)) }

    /** NumberDataPoint with as_double (exemplars=5) */
    def numberDp(timeNs: Long, value: Double,
        attrs: Seq[(String, String)],
        exemplars: Seq[Array[Byte]] = Nil): Array[Byte] =
      fixed64(3, timeNs) ++ dbl(4, value) ++
        exemplars.flatMap(e => ld(5, e)) ++
        attrs.flatMap { case (k, v) => ld(7, kv(k, v)) }

    def gaugeMetric(name: String, dps: Seq[Array[Byte]]): Array[Byte] =
      str(1, name) ++ ld(5, dps.flatMap(d => ld(1, d)).toArray)

    def sumMetric(name: String, monotonic: Boolean,
        dps: Seq[Array[Byte]]): Array[Byte] =
      str(1, name) ++ ld(7,
        dps.flatMap(d => ld(1, d)).toArray ++
          vint(2, 2) ++ // aggregation_temporality = CUMULATIVE
          vint(3, if (monotonic) 1L else 0L))

    /** HistogramDataPoint with packed bucket_counts/explicit_bounds
      * (exemplars=8)
      */
    def histogramDp(timeNs: Long, count: Long, sum: Double,
        min: Double, max: Double, bucketCounts: Seq[Long],
        explicitBounds: Seq[Double],
        attrs: Seq[(String, String)],
        exemplars: Seq[Array[Byte]] = Nil): Array[Byte] = {
      def f64(v: Long): Array[Byte] =
        (0 until 8).map(i => ((v >>> (8 * i)) & 0xff).toByte).toArray
      fixed64(3, timeNs) ++ fixed64(4, count) ++ dbl(5, sum) ++
        ld(6, bucketCounts.flatMap(f64).toArray) ++
        ld(7, explicitBounds.flatMap(d => f64(java.lang.Double.doubleToLongBits(d))).toArray) ++
        exemplars.flatMap(e => ld(8, e)) ++
        attrs.flatMap { case (k, v) => ld(9, kv(k, v)) } ++
        dbl(11, min) ++ dbl(12, max)
    }

    def summaryDp(timeNs: Long, count: Long, sum: Double,
        quantileValues: Seq[(Double, Double)],
        attrs: Seq[(String, String)]): Array[Byte] =
      fixed64(3, timeNs) ++ fixed64(4, count) ++ dbl(5, sum) ++
        quantileValues.flatMap { case (q, v) => ld(6, dbl(1, q) ++ dbl(2, v)) } ++
        attrs.flatMap { case (k, v) => ld(7, kv(k, v)) }

    def summaryMetric(name: String, dps: Seq[Array[Byte]]): Array[Byte] =
      str(1, name) ++ ld(11, dps.flatMap(d => ld(1, d)).toArray)

    def histogramMetric(name: String, dps: Seq[Array[Byte]]): Array[Byte] =
      str(1, name) ++ ld(9,
        dps.flatMap(d => ld(1, d)).toArray ++ vint(2, 2)) // CUMULATIVE

    private def zigzag(n: Long): Long = (n << 1) ^ (n >> 63)

    /** ExponentialHistogramDataPoint.Buckets: offset (sint32) + packed counts */
    def expoBuckets(offset: Int, counts: Seq[Long]): Array[Byte] =
      vint(1, zigzag(offset)) ++ ld(2, counts.flatMap(varint).toArray)

    def expoHistogramDp(timeNs: Long, count: Long, sum: Double,
        min: Double, max: Double, scale: Int, zeroCount: Long,
        posOffset: Int, posCounts: Seq[Long],
        attrs: Seq[(String, String)]): Array[Byte] =
      attrs.flatMap { case (k, v) => ld(1, kv(k, v)) }.toArray ++
        fixed64(3, timeNs) ++ fixed64(4, count) ++ dbl(5, sum) ++
        vint(6, zigzag(scale)) ++ fixed64(7, zeroCount) ++
        ld(8, expoBuckets(posOffset, posCounts)) ++
        dbl(12, min) ++ dbl(13, max)

    def expoHistogramMetric(name: String, dps: Seq[Array[Byte]]): Array[Byte] =
      str(1, name) ++ ld(10,
        dps.flatMap(d => ld(1, d)).toArray ++ vint(2, 2)) // CUMULATIVE

    def metricsData(resourceAttrs: Seq[(String, String)], scopeName: String,
        metrics: Seq[Array[Byte]],
        scopeAttrs: Seq[(String, String)] = Nil): Array[Byte] =
      envelope(resourceAttrs, scopeName, scopeAttrs, metrics)

    private def hexBytes(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

    def span(traceIdHex: String, spanIdHex: String, parentHex: String,
        name: String, kind: Int, startNs: Long, endNs: Long,
        statusCode: Int, statusMsg: String,
        attrs: Seq[(String, String)]): Array[Byte] =
      ld(1, hexBytes(traceIdHex)) ++ ld(2, hexBytes(spanIdHex)) ++
        (if (parentHex.nonEmpty) ld(4, hexBytes(parentHex)) else Array.empty[Byte]) ++
        str(5, name) ++ vint(6, kind) ++
        fixed64(7, startNs) ++ fixed64(8, endNs) ++
        attrs.flatMap { case (k, v) => ld(9, kv(k, v)) } ++
        ld(15, str(2, statusMsg) ++ vint(3, statusCode))

    /** one ResourceSpans block per (resourceAttrs, scope, spans) group;
      * concatenation of blocks is a valid TracesData (repeated field 1)
      */
    def tracesData(
        groups: Seq[(Seq[(String, String)], String, Seq[Array[Byte]])],
        scopeAttrs: Seq[(String, String)] = Nil): Array[Byte] =
      groups.flatMap { case (resourceAttrs, scopeName, spans) =>
        envelope(resourceAttrs, scopeName, scopeAttrs, spans)
      }.toArray
  }
}