package graft.logql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** LogQL `ip("pattern")` matching (Loki's ip filter; beyond the
  * reference's LogQL surface, which has no ip form). IPv4 only —
  * patterns are a single address ("192.168.0.1"), an inclusive range
  * ("192.168.0.10-192.168.0.20"), or CIDR ("192.168.0.0/16"). The
  * pattern compiles to a [lo, hi] uint32 interval at PLAN time; row-side
  * work is a codegen'd parse-to-long + range compare — no regex engine in
  * the comparison itself, and the identical integer arithmetic replays in
  * the DuckDB oracle.
  */
object IpMatch {

  /** inclusive uint32 interval of a pattern; throws on malformed input
    * (plan-time validation, like a regex syntax error)
    */
  def rangeOf(pattern: String): (Long, Long) = {
    def ip(s: String): Long = {
      val parts = s.trim.split("\\.")
      require(parts.length == 4, s"not an IPv4 address: $s")
      parts.foldLeft(0L) { (acc, p) =>
        val o = p.toInt
        require(o >= 0 && o <= 255, s"octet out of range in $s")
        acc * 256 + o
      }
    }
    pattern match {
      case p if p.contains('/') =>
        val Array(base, bitsS) = p.split("/", 2)
        val bits = bitsS.toInt
        require(bits >= 0 && bits <= 32, s"bad CIDR width: $pattern")
        val mask = if (bits == 0) 0L else (0xffffffffL << (32 - bits)) & 0xffffffffL
        val lo = ip(base) & mask
        (lo, lo | (~mask & 0xffffffffL))
      case p if p.contains('-') =>
        val Array(a, b) = p.split("-", 2)
        val (lo, hi) = (ip(a), ip(b))
        require(lo <= hi, s"inverted range: $pattern")
        (lo, hi)
      case p => val v = ip(p); (v, v)
    }
  }

  /** the dotted-quad shape both engines extract and parse */
  val Ipv4Regex = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Regex matching EXACTLY the dotted quads whose uint32 value lies in
    * [lo, hi], compiled at PLAN time — so the row-side test is ONE
    * codegen'd compiled-regex scan with no higher-order function at all
    * (the old extract-then-fold form was an interpreted CodegenFallback
    * storm: 13.6 s for lq_ip_filter at sf0.1 on a loaded host). Octets
    * admit leading zeros up to 3 total digits, mirroring the `\d{1,3}`
    * extraction shape ("010" parses as 10). Alternation stays compact:
    * octet subranges compress to prefix+digit-class branches (≤26 per
    * octet), and the interval decomposes head-octet-first into at most
    * 3 branches per level.
    */
  def rangeRegex(lo: Long, hi: Long): String = {
    def cls(a: Int, b: Int): String =
      if (a == b) a.toString else s"[$a-$b]"
    def octet(l: Int, h: Int): String = {
      val alts = Seq.newBuilder[String]
      if (l <= math.min(h, 9)) alts += ("0{0,2}" + cls(l, math.min(h, 9)))
      for (t <- 1 to 9) {
        val l2 = math.max(l, t * 10); val h2 = math.min(h, t * 10 + 9)
        if (l2 <= h2) alts += ("0?" + t.toString + cls(l2 % 10, h2 % 10))
      }
      for (p <- 10 to 25) {
        val l3 = math.max(l, p * 10); val h3 = math.min(h, p * 10 + 9)
        if (l3 <= h3) alts += (p.toString + cls(l3 % 10, h3 % 10))
      }
      "(?:" + alts.result().mkString("|") + ")"
    }
    val full = octet(0, 255)
    def ge(l: List[Int]): String = l match {
      case o :: Nil => octet(o, 255)
      case o :: t =>
        val tight = octet(o, o) + "\\." + ge(t)
        if (o < 255)
          "(?:" + tight + "|" + octet(o + 1, 255) + "\\." +
            t.map(_ => full).mkString("\\.") + ")"
        else tight
      case Nil => ""
    }
    def le(h: List[Int]): String = h match {
      case o :: Nil => octet(0, o)
      case o :: t =>
        val tight = octet(o, o) + "\\." + le(t)
        if (o > 0)
          "(?:" + tight + "|" + octet(0, o - 1) + "\\." +
            t.map(_ => full).mkString("\\.") + ")"
        else tight
      case Nil => ""
    }
    def quad(l: List[Int], h: List[Int]): String = (l, h) match {
      case (lh :: Nil, hh :: Nil) => octet(lh, hh)
      case (lh :: lt, hh :: ht) if lh == hh =>
        octet(lh, lh) + "\\." + quad(lt, ht)
      case (lh :: lt, hh :: ht) =>
        val parts = Seq.newBuilder[String]
        parts += octet(lh, lh) + "\\." + ge(lt)
        if (lh + 1 <= hh - 1)
          parts += octet(lh + 1, hh - 1) + "\\." +
            lt.map(_ => full).mkString("\\.")
        parts += octet(hh, hh) + "\\." + le(ht)
        "(?:" + parts.result().mkString("|") + ")"
      case _ => ""
    }
    def octets(v: Long): List[Int] =
      List(((v >> 24) & 255).toInt, ((v >> 16) & 255).toInt,
        ((v >> 8) & 255).toInt, (v & 255).toInt)
    quad(octets(lo), octets(hi))
  }

  /** label form: value is an in-range IPv4 (false for unparseable) — one
    * anchored range-regex match, exactly the language {shaped ∧ octets
    * ≤255 ∧ lo ≤ value ≤ hi}
    */
  def labelCond(c: Column, pattern: String): Column = {
    val (lo, hi) = rangeOf(pattern)
    coalesce(c.rlike("^" + rangeRegex(lo, hi) + "$"), lit(false))
  }

  /** line form: the line contains an in-range IPv4 at any \b-delimited
    * offset — one compiled-regex scan. (The previous extract-then-check
    * form consumed candidates left-to-right, so an in-range quad
    * overlapping a checked-and-rejected one was invisible; the direct
    * scan finds it. Real corpora don't exercise the difference — it
    * needs an invalid or out-of-range quad sharing digits with a valid
    * one, e.g. "1.2.3.4.5".)
    */
  def lineCond(line: Column, pattern: String): Column = {
    val (lo, hi) = rangeOf(pattern)
    coalesce(line.rlike("\\b" + rangeRegex(lo, hi) + "\\b"), lit(false))
  }
}
