package graft.filters

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Robot filtering (SURVEY.md §2.2 F1/F2; ref
  * `Filter/Robots.pm:13-150` with 826 UA patterns + 613 IP prefixes).
  *
  * Scale posture: both filters compile to a single predicate evaluated
  * inside the scan's whole-stage codegen:
  *  - UA: the native `contains_any` Aho-Corasick expression (O(len)
  *    per row regardless of list size — see [[isRobotUa]]); a list
  *    with a non-ASCII or empty pattern compiles to one `rlike`
  *    alternation instead (compiled once per task, not per row);
  *  - IP: prefix match against a literal alternation anchored at `^`
  *    (the anchor makes every non-zero start position fail in O(1),
  *    so the 404-prefix list measures ~1.2 µs/row worst-case —
  *    300x less exposed than the unanchored UA path was; the same
  *    `contains_any`-style fix is not warranted here).
  * Neither shuffles; both are null-safe (null UA/IP is NOT a robot,
  * matching the reference's substring semantics).
  *
  * Lists are configurable at construction — production ships the full
  * public robots lists as resources; defaults here are a representative
  * built-in set.
  */
object Robots {

  /** Built-in UA substrings (lowercase) flagged as robots. */
  val defaultUaPatterns: Seq[String] = Seq(
    "bot", "crawl", "spider", "slurp", "archiver", "harvester",
    "scraper", "wget", "curl", "httpclient", "libwww", "python-requests",
    "java/", "feedfetcher", "mediapartners", "facebookexternalhit",
    "semrush", "ahrefs", "mj12", "dotbot", "petalbot", "bytespider")

  /** Built-in robot IP prefixes (class-C style). */
  val defaultIpPrefixes: Seq[String] = Seq(
    "66.249.", "40.77.", "157.55.", "207.46.", "180.76.", "220.181.",
    "123.125.", "17.241.", "114.119.")

  private def quote(s: String): String = java.util.regex.Pattern.quote(s)

  /** Load a pattern list from a file — the production path for the
    * full public robots lists (one pattern per line, `#` comments;
    * ref the reference's robots_ua.txt / robots_ip.txt file format and
    * its sanity floor on suspiciously-small downloads). */
  def loadPatterns(path: String, minBytes: Int = 0): Seq[String] = {
    val f = new java.io.File(path)
    require(f.length >= minBytes,
      s"robots list $path smaller than sanity floor ($minBytes bytes)")
    parsePatterns(scala.io.Source.fromFile(f, "UTF-8"), s"list $path")
  }

  /** Load a pattern list from the bundled classpath resources — the
    * shipped production lists (`graft/robots_ua.txt`,
    * `graft/robots_ip.txt`; same format as [[loadPatterns]] files,
    * analog of the reference's shipped default_robots_{ua,ip}.txt). */
  def loadResourcePatterns(resource: String): Seq[String] = {
    val in = getClass.getClassLoader.getResourceAsStream(resource)
    require(in != null, s"robots resource $resource not on classpath")
    parsePatterns(scala.io.Source.fromInputStream(in, "UTF-8"),
      s"resource $resource")
  }

  /** Non-blank, non-`#` lines, trimmed; closes `src`. An empty list
    * would otherwise compile to rlike("") below — a match-everything
    * predicate that silently drops ALL traffic — so it fails. */
  private def parsePatterns(src: scala.io.Source, what: String): Seq[String] = {
    val patterns =
      try src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally src.close()
    require(patterns.nonEmpty, s"robots $what contains no patterns")
    patterns
  }

  /** The shipped full UA list (~1,200 crawler/tool/monitor name
    * substrings; measured 99.1% catch rate against the reference's
    * own 826-entry list — EtlSpec's catch-parity gate, provenance in
    * COVERAGE.md and the file's own comments). */
  lazy val shippedUaPatterns: Seq[String] =
    loadResourcePatterns("graft/robots_ua.txt")

  /** The shipped full IP-prefix list (~400 documented crawler /
    * scanner / cloud-datacenter ranges; ~2x the reference's
    * 2,000-byte floor, coverage measurement in COVERAGE.md). */
  lazy val shippedIpPrefixes: Seq[String] =
    loadResourcePatterns("graft/robots_ip.txt")

  /** True iff the UA matches any robot pattern (case-insensitive).
    * An empty pattern list classifies nothing as a robot (a bare
    * `rlike("")` would match every row).
    *
    * Scale path: the native `contains_any` Aho-Corasick expression
    * ([[graft.plans.GraftExtensions]], installed by
    * [[graft.GraftSession]]) — O(len) per row regardless of list
    * size. The regex alternation is semantically identical but
    * O(len x patterns): measured 379 µs/row for a non-matching UA
    * against the shipped ~1,200-entry list vs ~0.35 µs/row native
    * (PipelineSpec pins the two agree on the robot fixtures). A list
    * with a non-ASCII or empty pattern takes the regex (the
    * automaton's alphabet is byte-wise ASCII). */
  def isRobotUa(ua: Column, patterns: Seq[String] = defaultUaPatterns): Column =
    if (patterns.isEmpty) lit(false)
    else {
      val lowered = lower(ua)
      val hit =
        if (patterns.forall(p => p.nonEmpty && p.forall(_ < 128)))
          call_function("contains_any", lowered, lit(patterns.toArray))
        else lowered.rlike(patterns.map(quote).mkString("|"))
      coalesce(hit, lit(false))
    }

  /** True iff the IP starts with any robot prefix; empty list matches nothing. */
  def isRobotIp(ip: Column, prefixes: Seq[String] = defaultIpPrefixes): Column =
    if (prefixes.isEmpty) lit(false)
    else coalesce(ip.rlike("^(" + prefixes.map(quote).mkString("|") + ")"), lit(false))

  /** Drop robot hits by UA and IP — the standard pre-filter applied
    * before any metric processor (ref filter priority ordering,
    * `Handler.pm:1064-1071`). */
  def filterRobots(events: DataFrame, uaCol: String = "requester_user_agent",
      ipCol: String = "requester_id",
      uaPatterns: Seq[String] = defaultUaPatterns,
      ipPrefixes: Seq[String] = defaultIpPrefixes): DataFrame =
    events.filter(!isRobotUa(col(uaCol), uaPatterns) &&
      !isRobotIp(col(ipCol), ipPrefixes))
}
