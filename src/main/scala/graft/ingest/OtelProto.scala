package graft.ingest

import java.util.zip.GZIPInputStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal OTel protobuf decoder for `.binpb[.gz]` ingest.
  *
  * Hand-rolled from the PUBLIC protobuf wire format (varint / fixed64 /
  * length-delimited / fixed32) + the public opentelemetry-proto field
  * numbers for LogsData and TracesData. Role of the reference's
  * `otel_logs_read` / proto readers
  * (/root/reference/internal/filereader/ingest_proto_logs.go,
  * internal/metricsprocessing/logs_ingest_duckdb.go:232) — reimplemented
  * from the wire spec, not translated.
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
          val parts = scala.collection.mutable.ListBuffer[String]()
          while (inner.hasNext) {
            val (f2, w2) = inner.readTag()
            if (f2 == 1 && w2 == 2) parts += anyValue(inner.readMessage())
            else inner.skip(w2)
          }
          out = parts.mkString("[", ",", "]")
        case 6 => // kvlist_value { repeated KeyValue values = 1 } — entries
          // are KeyValue messages, NOT AnyValue (distinct parse path)
          val inner = r.readMessage()
          val parts = scala.collection.mutable.ListBuffer[String]()
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

  def parseLogs(data: Array[Byte]): Seq[OtelLog] = {
    val out = scala.collection.mutable.ListBuffer[OtelLog]()
    val root = new Reader(data, 0, data.length)
    while (root.hasNext) {
      val (f, w) = root.readTag()
      if (f == 1 && w == 2) { // resource_logs
        val rl = root.readMessage()
        var resAttrs = Map.empty[String, String]
        val scopeLogs = scala.collection.mutable.ListBuffer[Reader]()
        while (rl.hasNext) {
          val (f2, w2) = rl.readTag()
          f2 match {
            case 1 => // resource { attributes=1 }
              val res = rl.readMessage()
              while (res.hasNext) {
                val (f3, w3) = res.readTag()
                if (f3 == 1 && w3 == 2) resAttrs += keyValue(res.readMessage())
                else res.skip(w3)
              }
            case 2 => scopeLogs += rl.readMessage()
            case _ => rl.skip(w2)
          }
        }
        scopeLogs.foreach { sl =>
          var scopeName = ""
          var scopeAttrs = Map.empty[String, String]
          while (sl.hasNext) {
            val (f2, w2) = sl.readTag()
            f2 match {
              case 1 => // scope { name=1 }
                val sc = sl.readMessage()
                while (sc.hasNext) {
                  val (f3, w3) = sc.readTag()
                  if (f3 == 1 && w3 == 2) scopeName = sc.readString()
                  else if (f3 == 3 && w3 == 2) scopeAttrs += keyValue(sc.readMessage())
                  else sc.skip(w3)
                }
              case 2 => // log_records
                val lr = sl.readMessage()
                var t = 0L; var sevN = 0; var sevT = ""; var body = ""
                var attrs = Map.empty[String, String]
                while (lr.hasNext) {
                  val (f3, w3) = lr.readTag()
                  f3 match {
                    case 1 => t = lr.readFixed64()
                    case 2 => sevN = lr.readVarint().toInt
                    case 3 => sevT = lr.readString()
                    case 5 => body = anyValue(lr.readMessage())
                    case 6 => attrs += keyValue(lr.readMessage())
                    case _ => lr.skip(w3)
                  }
                }
                out += OtelLog(t, sevN, sevT, body, attrs, resAttrs, scopeName, scopeAttrs)
              case _ => sl.skip(w2)
            }
          }
        }
      } else root.skip(w)
    }
    out.toSeq
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
      scala.collection.mutable.ListBuffer[(Long, Double, String, String, Map[String, String])]()
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
    val bc = scala.collection.mutable.ListBuffer[Long]()
    val eb = scala.collection.mutable.ListBuffer[Double]()
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
    val qvs = scala.collection.mutable.ListBuffer[(Double, Double)]()
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

  def parseSummaries(data: Array[Byte]): Seq[OtelSummary] = {
    val out = scala.collection.mutable.ListBuffer[OtelSummary]()
    val root = new Reader(data, 0, data.length)
    while (root.hasNext) {
      val (f, w) = root.readTag()
      if (f == 1 && w == 2) {
        val rm = root.readMessage()
        var resAttrs = Map.empty[String, String]
        val scopeMetrics = scala.collection.mutable.ListBuffer[Reader]()
        while (rm.hasNext) {
          val (f2, w2) = rm.readTag()
          f2 match {
            case 1 =>
              val res = rm.readMessage()
              while (res.hasNext) {
                val (f3, w3) = res.readTag()
                if (f3 == 1 && w3 == 2) resAttrs += keyValue(res.readMessage())
                else res.skip(w3)
              }
            case 2 => scopeMetrics += rm.readMessage()
            case _ => rm.skip(w2)
          }
        }
        scopeMetrics.foreach { sm =>
          var scopeName = ""
          var scopeAttrs = Map.empty[String, String]
          while (sm.hasNext) {
            val (f2, w2) = sm.readTag()
            f2 match {
              case 1 =>
                val sc = sm.readMessage()
                while (sc.hasNext) {
                  val (f3, w3) = sc.readTag()
                  if (f3 == 1 && w3 == 2) scopeName = sc.readString()
                  else if (f3 == 3 && w3 == 2) scopeAttrs += keyValue(sc.readMessage())
                  else sc.skip(w3)
                }
              case 2 =>
                val m = sm.readMessage()
                var name = ""
                val points = scala.collection.mutable.ListBuffer[OtelSummary]()
                while (m.hasNext) {
                  val (f3, w3) = m.readTag()
                  f3 match {
                    case 1 => name = m.readString()
                    case 11 => // summary { data_points=1 }
                      val su = m.readMessage()
                      while (su.hasNext) {
                        val (f4, w4) = su.readTag()
                        if (f4 == 1 && w4 == 2)
                          points += summaryDataPoint(su.readMessage())
                        else su.skip(w4)
                      }
                    case _ => m.skip(w3)
                  }
                }
                points.foreach { p =>
                  out += p.copy(metricName = name, resourceAttrs = resAttrs,
                    scopeName = scopeName, scopeAttrs = scopeAttrs)
                }
              case _ => sm.skip(w2)
            }
          }
        }
      } else root.skip(w)
    }
    out.toSeq
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
    val cs = scala.collection.mutable.ListBuffer[Long]()
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
    * field 10); same resource/scope walk as [[parseHistograms]]
    */
  def parseExpoHistograms(data: Array[Byte]): Seq[OtelExpoHistogram] = {
    val out = scala.collection.mutable.ListBuffer[OtelExpoHistogram]()
    val root = new Reader(data, 0, data.length)
    while (root.hasNext) {
      val (f, w) = root.readTag()
      if (f == 1 && w == 2) {
        val rm = root.readMessage()
        var resAttrs = Map.empty[String, String]
        val scopeMetrics = scala.collection.mutable.ListBuffer[Reader]()
        while (rm.hasNext) {
          val (f2, w2) = rm.readTag()
          f2 match {
            case 1 =>
              val res = rm.readMessage()
              while (res.hasNext) {
                val (f3, w3) = res.readTag()
                if (f3 == 1 && w3 == 2) resAttrs += keyValue(res.readMessage())
                else res.skip(w3)
              }
            case 2 => scopeMetrics += rm.readMessage()
            case _ => rm.skip(w2)
          }
        }
        scopeMetrics.foreach { sm =>
          var scopeName = ""
          var scopeAttrs = Map.empty[String, String]
          while (sm.hasNext) {
            val (f2, w2) = sm.readTag()
            f2 match {
              case 1 =>
                val sc = sm.readMessage()
                while (sc.hasNext) {
                  val (f3, w3) = sc.readTag()
                  if (f3 == 1 && w3 == 2) scopeName = sc.readString()
                  else if (f3 == 3 && w3 == 2) scopeAttrs += keyValue(sc.readMessage())
                  else sc.skip(w3)
                }
              case 2 =>
                val m = sm.readMessage()
                var name = ""
                val points = scala.collection.mutable.ListBuffer[OtelExpoHistogram]()
                while (m.hasNext) {
                  val (f3, w3) = m.readTag()
                  f3 match {
                    case 1 => name = m.readString()
                    case 10 => // exponential_histogram { data_points=1 }
                      val h = m.readMessage()
                      while (h.hasNext) {
                        val (f4, w4) = h.readTag()
                        if (f4 == 1 && w4 == 2)
                          points += expoHistogramDataPoint(h.readMessage())
                        else h.skip(w4)
                      }
                    case _ => m.skip(w3)
                  }
                }
                points.foreach { p =>
                  out += p.copy(metricName = name, resourceAttrs = resAttrs,
                    scopeName = scopeName, scopeAttrs = scopeAttrs)
                }
              case _ => sm.skip(w2)
            }
          }
        }
      } else root.skip(w)
    }
    out.toSeq
  }

  /** MetricsData → decoded histogram datapoints (Metric field 9); same
    * walk as [[parseMetrics]], name attached after the metric closes so
    * field order within Metric doesn't matter
    */
  def parseHistograms(data: Array[Byte]): Seq[OtelHistogram] = {
    val out = scala.collection.mutable.ListBuffer[OtelHistogram]()
    val root = new Reader(data, 0, data.length)
    while (root.hasNext) {
      val (f, w) = root.readTag()
      if (f == 1 && w == 2) {
        val rm = root.readMessage()
        var resAttrs = Map.empty[String, String]
        val scopeMetrics = scala.collection.mutable.ListBuffer[Reader]()
        while (rm.hasNext) {
          val (f2, w2) = rm.readTag()
          f2 match {
            case 1 =>
              val res = rm.readMessage()
              while (res.hasNext) {
                val (f3, w3) = res.readTag()
                if (f3 == 1 && w3 == 2) resAttrs += keyValue(res.readMessage())
                else res.skip(w3)
              }
            case 2 => scopeMetrics += rm.readMessage()
            case _ => rm.skip(w2)
          }
        }
        scopeMetrics.foreach { sm =>
          var scopeName = ""
          var scopeAttrs = Map.empty[String, String]
          while (sm.hasNext) {
            val (f2, w2) = sm.readTag()
            f2 match {
              case 1 =>
                val sc = sm.readMessage()
                while (sc.hasNext) {
                  val (f3, w3) = sc.readTag()
                  if (f3 == 1 && w3 == 2) scopeName = sc.readString()
                  else if (f3 == 3 && w3 == 2) scopeAttrs += keyValue(sc.readMessage())
                  else sc.skip(w3)
                }
              case 2 =>
                val m = sm.readMessage()
                var name = ""
                val points = scala.collection.mutable.ListBuffer[OtelHistogram]()
                while (m.hasNext) {
                  val (f3, w3) = m.readTag()
                  f3 match {
                    case 1 => name = m.readString()
                    case 9 => // histogram { data_points=1 }
                      val h = m.readMessage()
                      while (h.hasNext) {
                        val (f4, w4) = h.readTag()
                        if (f4 == 1 && w4 == 2)
                          points += histogramDataPoint(h.readMessage())
                        else h.skip(w4)
                      }
                    case _ => m.skip(w3)
                  }
                }
                points.foreach { p =>
                  out += p.copy(metricName = name, resourceAttrs = resAttrs,
                    scopeName = scopeName, scopeAttrs = scopeAttrs)
                }
              case _ => sm.skip(w2)
            }
          }
        }
      } else root.skip(w)
    }
    out.toSeq
  }

  /** MetricsData → decoded gauge/sum number datapoints. Exponential-
    * histogram / summary points are skipped; classic histogram datapoints
    * decode via [[parseHistograms]] / [[readHistograms]].
    */
  def parseMetrics(data: Array[Byte]): Seq[OtelMetric] = {
    val out = scala.collection.mutable.ListBuffer[OtelMetric]()
    val root = new Reader(data, 0, data.length)
    while (root.hasNext) {
      val (f, w) = root.readTag()
      if (f == 1 && w == 2) { // resource_metrics
        val rm = root.readMessage()
        var resAttrs = Map.empty[String, String]
        val scopeMetrics = scala.collection.mutable.ListBuffer[Reader]()
        while (rm.hasNext) {
          val (f2, w2) = rm.readTag()
          f2 match {
            case 1 =>
              val res = rm.readMessage()
              while (res.hasNext) {
                val (f3, w3) = res.readTag()
                if (f3 == 1 && w3 == 2) resAttrs += keyValue(res.readMessage())
                else res.skip(w3)
              }
            case 2 => scopeMetrics += rm.readMessage()
            case _ => rm.skip(w2)
          }
        }
        scopeMetrics.foreach { sm =>
          var scopeName = ""
          var scopeAttrs = Map.empty[String, String]
          while (sm.hasNext) {
            val (f2, w2) = sm.readTag()
            f2 match {
              case 1 =>
                val sc = sm.readMessage()
                while (sc.hasNext) {
                  val (f3, w3) = sc.readTag()
                  if (f3 == 1 && w3 == 2) scopeName = sc.readString()
                  else if (f3 == 3 && w3 == 2) scopeAttrs += keyValue(sc.readMessage())
                  else sc.skip(w3)
                }
              case 2 => // Metric { name=1, gauge=5, sum=7 { is_monotonic=3 } }
                val m = sm.readMessage()
                var name = ""
                val points =
                  scala.collection.mutable.ListBuffer[(Long, Double, Map[String, String])]()
                var mtype = "gauge"
                while (m.hasNext) {
                  val (f3, w3) = m.readTag()
                  f3 match {
                    case 1 => name = m.readString()
                    case 5 => // gauge { data_points=1 }
                      val g = m.readMessage()
                      while (g.hasNext) {
                        val (f4, w4) = g.readTag()
                        if (f4 == 1 && w4 == 2) points += numberDataPoint(g.readMessage())
                        else g.skip(w4)
                      }
                    case 7 => // sum { data_points=1, is_monotonic=3 }
                      val su = m.readMessage()
                      var monotonic = false
                      while (su.hasNext) {
                        val (f4, w4) = su.readTag()
                        f4 match {
                          case 1 => points += numberDataPoint(su.readMessage())
                          case 3 => monotonic = su.readVarint() != 0
                          case _ => su.skip(w4)
                        }
                      }
                      mtype = if (monotonic) "count" else "gauge"
                    case _ => m.skip(w3)
                  }
                }
                points.foreach { case (t, v, attrs) =>
                  out += OtelMetric(t, name, mtype, v, attrs, resAttrs, scopeName, scopeAttrs)
                }
              case _ => sm.skip(w2)
            }
          }
        }
      } else root.skip(w)
    }
    out.toSeq
  }

  /** MetricsData → every exemplar attached to any datapoint of any
    * metric kind — gauge (Metric field 5) and sum (7) number datapoints
    * (attributes=7, exemplars=5), classic histograms (9: attributes=9,
    * exemplars=8), exponential histograms (10: attributes=1,
    * exemplars=11). Same resource/scope walk as [[parseMetrics]].
    */
  def parseExemplars(data: Array[Byte]): Seq[OtelExemplar] = {
    val out = scala.collection.mutable.ListBuffer[OtelExemplar]()
    val root = new Reader(data, 0, data.length)
    while (root.hasNext) {
      val (f, w) = root.readTag()
      if (f == 1 && w == 2) {
        val rm = root.readMessage()
        var resAttrs = Map.empty[String, String]
        val scopeMetrics = scala.collection.mutable.ListBuffer[Reader]()
        while (rm.hasNext) {
          val (f2, w2) = rm.readTag()
          f2 match {
            case 1 =>
              val res = rm.readMessage()
              while (res.hasNext) {
                val (f3, w3) = res.readTag()
                if (f3 == 1 && w3 == 2) resAttrs += keyValue(res.readMessage())
                else res.skip(w3)
              }
            case 2 => scopeMetrics += rm.readMessage()
            case _ => rm.skip(w2)
          }
        }
        scopeMetrics.foreach { sm =>
          var scopeName = ""
          var scopeAttrs = Map.empty[String, String]
          while (sm.hasNext) {
            val (f2, w2) = sm.readTag()
            f2 match {
              case 1 =>
                val sc = sm.readMessage()
                while (sc.hasNext) {
                  val (f3, w3) = sc.readTag()
                  if (f3 == 1 && w3 == 2) scopeName = sc.readString()
                  else if (f3 == 3 && w3 == 2) scopeAttrs += keyValue(sc.readMessage())
                  else sc.skip(w3)
                }
              case 2 =>
                val m = sm.readMessage()
                var name = ""
                val points = scala.collection.mutable.ListBuffer[
                  (String, Map[String, String],
                    Seq[(Long, Double, String, String, Map[String, String])])]()
                // (container field, cooked type, attrs field, exemplars field)
                val kinds = Map(
                  5 -> ("gauge", 7, 5), 7 -> ("sum", 7, 5),
                  9 -> ("histogram", 9, 8), 10 -> ("exponential_histogram", 1, 11))
                while (m.hasNext) {
                  val (f3, w3) = m.readTag()
                  f3 match {
                    case 1 => name = m.readString()
                    case k if kinds.contains(k) && w3 == 2 =>
                      val (mtype, af, ef) = kinds(k)
                      val c = m.readMessage()
                      while (c.hasNext) {
                        val (f4, w4) = c.readTag()
                        if (f4 == 1 && w4 == 2) {
                          val (attrs, exs) = dpExemplars(c.readMessage(), af, ef)
                          if (exs.nonEmpty) points += ((mtype, attrs, exs))
                        } else c.skip(w4)
                      }
                    case _ => m.skip(w3)
                  }
                }
                points.foreach { case (mtype, dpAttrs, exs) =>
                  exs.foreach { case (t, v, tid, sid, fattrs) =>
                    out += OtelExemplar(t, name, mtype, v, tid, sid,
                      dpAttrs ++ fattrs, resAttrs, scopeName, scopeAttrs)
                  }
                }
              case _ => sm.skip(w2)
            }
          }
        }
      } else root.skip(w)
    }
    out.toSeq
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

  def parseSpans(data: Array[Byte]): Seq[OtelSpan] = {
    val out = scala.collection.mutable.ListBuffer[OtelSpan]()
    val root = new Reader(data, 0, data.length)
    while (root.hasNext) {
      val (f, w) = root.readTag()
      if (f == 1 && w == 2) { // resource_spans
        val rs = root.readMessage()
        var resAttrs = Map.empty[String, String]
        val scopeSpans = scala.collection.mutable.ListBuffer[Reader]()
        while (rs.hasNext) {
          val (f2, w2) = rs.readTag()
          f2 match {
            case 1 =>
              val res = rs.readMessage()
              while (res.hasNext) {
                val (f3, w3) = res.readTag()
                if (f3 == 1 && w3 == 2) resAttrs += keyValue(res.readMessage())
                else res.skip(w3)
              }
            case 2 => scopeSpans += rs.readMessage()
            case _ => rs.skip(w2)
          }
        }
        scopeSpans.foreach { ss =>
          var scopeName = ""
          var scopeAttrs = Map.empty[String, String]
          while (ss.hasNext) {
            val (f2, w2) = ss.readTag()
            f2 match {
              case 1 =>
                val sc = ss.readMessage()
                while (sc.hasNext) {
                  val (f3, w3) = sc.readTag()
                  if (f3 == 1 && w3 == 2) scopeName = sc.readString()
                  else if (f3 == 3 && w3 == 2) scopeAttrs += keyValue(sc.readMessage())
                  else sc.skip(w3)
                }
              case 2 =>
                out += span(ss.readMessage())
                  .copy(resourceAttrs = resAttrs, scopeName = scopeName, scopeAttrs = scopeAttrs)
              case _ => ss.skip(w2)
            }
          }
        }
      } else root.skip(w)
    }
    out.toSeq
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

  /** `.binpb[.gz]` OTel logs → cooked logs DataFrame: chq_timestamp/tsns,
    * log_level, log_message, scope_name + flattened resource_* / attr_*
    * string columns (dynamic union across records, missing → null).
    */
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

  /** `fpcCompat = Some(b)` pins the choice for this read; the session
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
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(path)
      .select("path", "content").as[(String, Array[Byte])]
    val logs = files.flatMap { case (p, content) => parseLogs(maybeGunzip(p, content)) }
    // shared widen path: gunzip + wire decode runs once (materialized), the
    // key-union pass and the returned plan both read the decoded rows
    val widened = widenAttrs(logs.toDF().select(
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"), // integer div: ns epochs exceed double's 2^53
      col("timeUnixNano").as("chq_tsns"),
      col("severityText").as("log_level"),
      col("severityNumber").as("chq_severity_number"),
      col("body").as("log_message"),
      col("scopeName").as("scope_name"),
      col("attrs"), col("resourceAttrs"), col("scopeAttrs")))
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

  /** widen map-typed attrs/resourceAttrs into attr_* / resource_* string
    * columns (dynamic union across records; missing → null). The key-union
    * pass is a distinct-aggregate over key names only — bounded by distinct
    * key count, not data volume.
    */
  private def widenAttrs(df0: DataFrame): DataFrame = {
    import df0.sparkSession.implicits._
    // the decoded points feed two jobs (key-union collect + the returned
    // plan). GraftSession.materialize runs the decode once; in the default
    // localCheckpoint mode the blocks are released by the ContextCleaner
    // when the plan is GC'd, so repeated reads don't leak session-lifetime
    // cache entries; with spark.graft.checkpointDir set the blocks live on
    // reliable storage and survive executor loss.
    val df = graft.GraftSession.materialize(df0)
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

  /** `.binpb[.gz]` OTel metrics → raw metric points ready for
    * [[MetricsPreAgg.preAggregate]]: chq_timestamp (ms), metric_name,
    * chq_metric_type, value + flattened attr_* / resource_* strings.
    */
  def readMetrics(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(path)
      .select("path", "content").as[(String, Array[Byte])]
    val points = files.flatMap { case (p, c) => parseMetrics(maybeGunzip(p, c)) }
    widenAttrs(points.toDF().select(
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"),
      col("timeUnixNano").as("chq_tsns"),
      col("metricName").as("metric_name"),
      col("metricType").as("chq_metric_type"),
      col("value"),
      col("scopeName").as("scope_name"),
      col("attrs"), col("resourceAttrs"), col("scopeAttrs")))
  }

  /** `.binpb[.gz]` OTel metrics → decoded histogram rows: count/sum/min/max
    * map straight onto the cooked chq_rollup_* columns; bucket counts and
    * bounds ride along as arrays for sketch reconstruction.
    */
  def readHistograms(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(path)
      .select("path", "content").as[(String, Array[Byte])]
    val points = files.flatMap { case (p, c) => parseHistograms(maybeGunzip(p, c)) }
    widenAttrs(points.toDF().select(
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"),
      col("metricName").as("metric_name"),
      lit("histogram").as("chq_metric_type"),
      col("count").as("chq_rollup_count"),
      col("sum").as("chq_rollup_sum"),
      col("min").as("chq_rollup_min"),
      col("max").as("chq_rollup_max"),
      col("bucketCounts").as("bucket_counts"),
      col("explicitBounds").as("explicit_bounds"),
      col("scopeName").as("scope_name"),
      col("attrs"), col("resourceAttrs"), col("scopeAttrs")))
  }

  /** `.binpb[.gz]` OTel exponential-histogram datapoints → decoded rows:
    * count/sum/min/max onto the cooked chq_rollup_* columns; scale,
    * zero_count, and the positive/negative (offset, counts) bucket arrays
    * ride along. Base = 2^(2^-scale), so these buckets convert losslessly
    * to log-bucket sketch bins.
    */
  def readExpoHistograms(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(path)
      .select("path", "content").as[(String, Array[Byte])]
    val points = files.flatMap { case (p, c) => parseExpoHistograms(maybeGunzip(p, c)) }
    widenAttrs(points.toDF().select(
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"),
      col("metricName").as("metric_name"),
      lit("exponential_histogram").as("chq_metric_type"),
      col("count").as("chq_rollup_count"),
      col("sum").as("chq_rollup_sum"),
      col("min").as("chq_rollup_min"),
      col("max").as("chq_rollup_max"),
      col("scale"),
      col("zeroCount").as("zero_count"),
      col("posOffset").as("pos_offset"),
      col("posCounts").as("pos_counts"),
      col("negOffset").as("neg_offset"),
      col("negCounts").as("neg_counts"),
      col("scopeName").as("scope_name"),
      col("attrs"), col("resourceAttrs"), col("scopeAttrs")))
  }

  /** `.binpb[.gz]` OTel metrics → decoded EXEMPLAR rows (one per exemplar
    * on any datapoint of any metric kind): chq_timestamp/tsns (the
    * exemplar's own measurement time), metric_name, chq_metric_type,
    * exemplar_value, exemplar_trace_id / exemplar_span_id (hex — join
    * keys against span segments' span_trace_id), plus the widened
    * attr_* / resource_* / scope_* context (datapoint attributes unioned
    * with the exemplar's filtered_attributes).
    */
  def readExemplars(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(path)
      .select("path", "content").as[(String, Array[Byte])]
    val points = files.flatMap { case (p, c) => parseExemplars(maybeGunzip(p, c)) }
    widenAttrs(points.toDF().select(
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"),
      col("timeUnixNano").as("chq_tsns"),
      col("metricName").as("metric_name"),
      col("metricType").as("chq_metric_type"),
      col("value").as("exemplar_value"),
      col("traceId").as("exemplar_trace_id"),
      col("spanId").as("exemplar_span_id"),
      col("scopeName").as("scope_name"),
      col("attrs"), col("resourceAttrs"), col("scopeAttrs")))
  }

  /** [[readExpoHistograms]] with each datapoint's buckets converted to a
    * `chq_sketch` DDSketch blob (gamma = the histogram's own base — an
    * exact bin-to-bin mapping, [[graft.sketch.ExpoBridge]]), so ingested
    * exponential histograms feed histogram_quantile / quantile_over_time
    * through the same sketch path as pre-aggregated metrics. Conversion
    * happens inside the decode pass — no extra job, no UDF.
    */
  def readExpoHistogramSketches(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(path)
      .select("path", "content").as[(String, Array[Byte])]
    val rows = files
      .flatMap { case (p, c) => parseExpoHistograms(maybeGunzip(p, c)) }
      .map { h =>
        val sk = graft.sketch.ExpoBridge.fromExpo(h.scale, h.zeroCount,
          h.posOffset, h.posCounts, h.negOffset, h.negCounts,
          h.count, h.sum, h.min, h.max)
        (h.timeUnixNano, h.metricName, h.count, h.sum, h.min, h.max,
          sk.serialize(), h.attrs, h.resourceAttrs, h.scopeName, h.scopeAttrs)
      }
      .toDF("timeUnixNano", "metricName", "count", "sum", "min", "max",
        "sketch", "attrs", "resourceAttrs", "scopeName", "scopeAttrs")
    widenAttrs(rows.select(
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"),
      col("metricName").as("metric_name"),
      lit("exponential_histogram").as("chq_metric_type"),
      col("count").as("chq_rollup_count"),
      col("sum").as("chq_rollup_sum"),
      col("min").as("chq_rollup_min"),
      col("max").as("chq_rollup_max"),
      col("sketch").as("chq_sketch"),
      col("scopeName").as("scope_name"),
      col("attrs"), col("resourceAttrs"), col("scopeAttrs")))
  }

  /** [[readHistograms]] with each datapoint's explicit buckets converted
    * to a `chq_sketch` DDSketch blob (midpoint re-binning,
    * [[graft.sketch.ExplicitBridge]]) — explicit-bounds histograms feed
    * histogram_quantile / quantile_over_time through the same sketch path
    * as pre-aggregated metrics and exponential histograms.
    */
  def readHistogramSketches(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(path)
      .select("path", "content").as[(String, Array[Byte])]
    val rows = files
      .flatMap { case (p, c) => parseHistograms(maybeGunzip(p, c)) }
      .map { h =>
        val sk = graft.sketch.ExplicitBridge.fromExplicit(h.bucketCounts,
          h.explicitBounds, h.count, h.sum, h.min, h.max)
        (h.timeUnixNano, h.metricName, h.count, h.sum, h.min, h.max,
          sk.serialize(), h.attrs, h.resourceAttrs, h.scopeName, h.scopeAttrs)
      }
      .toDF("timeUnixNano", "metricName", "count", "sum", "min", "max",
        "sketch", "attrs", "resourceAttrs", "scopeName", "scopeAttrs")
    widenAttrs(rows.select(
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"),
      col("metricName").as("metric_name"),
      lit("histogram").as("chq_metric_type"),
      col("count").as("chq_rollup_count"),
      col("sum").as("chq_rollup_sum"),
      col("min").as("chq_rollup_min"),
      col("max").as("chq_rollup_max"),
      col("sketch").as("chq_sketch"),
      col("scopeName").as("scope_name"),
      col("attrs"), col("resourceAttrs"), col("scopeAttrs")))
  }

  /** `.binpb[.gz]` OTel metrics (Summary datapoints) → cooked rows:
    * client-computed quantiles land on the cooked percentile columns
    * (chq_rollup_p50/p90/p95/p99 when present) next to exact count/sum —
    * the cooked contract's percentile surface without a sketch
    * (docs/design/db-parquet/metrics.md:85-115).
    */
  def readSummaries(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(path)
      .select("path", "content").as[(String, Array[Byte])]
    val rows = files
      .flatMap { case (p, c) => parseSummaries(maybeGunzip(p, c)) }
      .map { s =>
        (s.timeUnixNano, s.metricName, s.count, s.sum, s.quantileValues.toMap,
          s.attrs, s.resourceAttrs, s.scopeName, s.scopeAttrs)
      }
      .toDF("timeUnixNano", "metricName", "count", "sum", "qvs",
        "attrs", "resourceAttrs", "scopeName", "scopeAttrs")
    val base = widenAttrs(rows.select(
      expr("timeUnixNano DIV 1000000").as("chq_timestamp"),
      col("metricName").as("metric_name"),
      lit("summary").as("chq_metric_type"),
      col("count").as("chq_rollup_count"),
      col("sum").as("chq_rollup_sum"),
      col("qvs"),
      col("scopeName").as("scope_name"),
      col("attrs"), col("resourceAttrs"), col("scopeAttrs")))
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
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(path)
      .select("path", "content").as[(String, Array[Byte])]
    val spans = files.flatMap { case (p, c) => parseSpans(maybeGunzip(p, c)) }
    // enum name lookup as element_at over a literal array (codegen'd; out of
    // range → null → coalesce to the UNSPECIFIED/UNSET name)
    def nameOf(c: org.apache.spark.sql.Column, names: Array[String]) =
      coalesce(element_at(array(names.map(lit): _*), c.cast("int") + 1), lit(names(0)))
    val kindName = (c: org.apache.spark.sql.Column) => nameOf(c, spanKindNames)
    val codeName = (c: org.apache.spark.sql.Column) => nameOf(c, statusCodeNames)
    val widened = widenAttrs(spans.toDF().select(
      expr("startUnixNano DIV 1000000").as("chq_timestamp"),
      col("startUnixNano").as("chq_tsns"),
      col("traceId").as("span_trace_id"),
      col("spanId").as("span_id"),
      col("parentSpanId").as("span_parent_span_id"),
      col("name").as("span_name"),
      kindName(col("kind")).as("span_kind"),
      codeName(col("statusCode")).as("span_status_code"),
      col("statusMessage").as("span_status_message"),
      expr("(endUnixNano - startUnixNano) DIV 1000000").as("span_duration"),
      expr("endUnixNano DIV 1000000").as("span_end_timestamp"),
      col("scopeName").as("scope_name"),
      col("attrs"), col("resourceAttrs"), col("scopeAttrs")))
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

    def logsData(resourceAttrs: Seq[(String, String)], scopeName: String,
        records: Seq[Array[Byte]],
        scopeAttrs: Seq[(String, String)] = Nil): Array[Byte] = {
      val resource = resourceAttrs.flatMap { case (k, v) => ld(1, kv(k, v)) }.toArray
      val scope = str(1, scopeName) ++
        scopeAttrs.flatMap { case (k, v) => ld(3, kv(k, v)) }.toArray
      val scopeLogs = ld(1, scope) ++ records.flatMap(r => ld(2, r))
      ld(1, ld(1, resource) ++ ld(2, scopeLogs))
    }

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
        scopeAttrs: Seq[(String, String)] = Nil): Array[Byte] = {
      val resource = resourceAttrs.flatMap { case (k, v) => ld(1, kv(k, v)) }.toArray
      val scope = str(1, scopeName) ++
        scopeAttrs.flatMap { case (k, v) => ld(3, kv(k, v)) }.toArray
      val scopeMetrics = ld(1, scope) ++ metrics.flatMap(m => ld(2, m))
      ld(1, ld(1, resource) ++ ld(2, scopeMetrics))
    }

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
        val resource = resourceAttrs.flatMap { case (k, v) => ld(1, kv(k, v)) }.toArray
        val scope = str(1, scopeName) ++
          scopeAttrs.flatMap { case (k, v) => ld(3, kv(k, v)) }.toArray
        val scopeSpans = ld(1, scope) ++ spans.flatMap(sp => ld(2, sp))
        ld(1, ld(1, resource) ++ ld(2, scopeSpans))
      }.toArray
  }
}
