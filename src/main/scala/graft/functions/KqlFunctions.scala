package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** KQL scalar-function surface (public KQL semantics; the reference declares KQL at
  * `/root/reference/README.md:33-34` with Kusto's scalar type system at
  * `src/store/segment_metadata.rs:131-142`). All of these compile to built-in Catalyst
  * expressions — codegen'd, null-propagating, pushdown-friendly; no UDFs.
  */
object KqlFunctions {

  // --- conditional ---
  /** KQL `iff(cond, a, b)`. */
  def iff(cond: Column, a: Column, b: Column): Column = when(cond, a).otherwise(b)

  /** KQL `case(p1, v1, p2, v2, ..., default)`. */
  def caseOf(pairs: Seq[(Column, Column)], default: Column): Column =
    pairs.foldRight(default) { case ((p, v), acc) => when(p, v).otherwise(acc) }

  // --- string ---
  /** KQL `strcat` — concat that treats null as empty string (KQL semantics; Spark
    * concat returns null on any null input). */
  def strcat(cols: Column*): Column = concat_ws("", cols: _*)

  /** KQL `has` — term match: the needle appears as a whole token (word-boundary
    * delimited), unlike `contains` (substring). Case-insensitive like KQL.
    * Implemented as tokenize-on-non-alphanumeric + array_contains rather than a
    * boundary regex: the unanchored `(^|[^a-z0-9])term(...)` pattern backtracks at
    * every character position (measured ~600µs/row on ~550-char docs); one split
    * plus an array scan is linear. */
  def has(haystack: Column, needle: String): Column = {
    val n = needle.toLowerCase
    if (n.nonEmpty && n.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')))
      array_contains(split(lower(haystack), "[^a-z0-9]+"), n)
    else {
      // needles containing non-alphanumerics (hyphenated terms, phrases) can never
      // equal a single token — fall back to the boundary regex for those
      val q = java.util.regex.Pattern.quote(n)
      lower(haystack).rlike(s"(^|[^a-z0-9])$q($$|[^a-z0-9])")
    }
  }

  /** Case-SENSITIVE `has_cs`: term match preserving case. */
  def hasCs(haystack: Column, needle: String): Column =
    if (needle.nonEmpty && needle.forall(_.isLetterOrDigit) &&
        needle.forall(c => c < 128))
      array_contains(split(haystack, "[^a-zA-Z0-9]+"), needle)
    else {
      val q = java.util.regex.Pattern.quote(needle)
      haystack.rlike(s"(^|[^a-zA-Z0-9])$q($$|[^a-zA-Z0-9])")
    }

  /** `hasprefix` / `hassuffix`: a term starting (ending) with the fragment,
    * case-insensitive like the bare `has`. */
  def hasPrefix(haystack: Column, prefix: String): Column = {
    val q = java.util.regex.Pattern.quote(prefix.toLowerCase)
    lower(haystack).rlike(s"(^|[^a-z0-9])$q")
  }
  def hasSuffix(haystack: Column, suffix: String): Column = {
    val q = java.util.regex.Pattern.quote(suffix.toLowerCase)
    lower(haystack).rlike(s"$q($$|[^a-z0-9])")
  }

  /** KQL `extract(regex, group, text)` (named to avoid clashing with
    * `functions.extract`). */
  def extractRegex(regex: String, group: Int, text: Column): Column =
    regexp_extract(text, regex, group)

  /** KQL `countof(text, search)` — non-overlapping occurrence count. */
  def countof(text: Column, search: String): Column = {
    val q = java.util.regex.Pattern.quote(search)
    (length(text) - length(regexp_replace(text, q, ""))) / search.length
  }

  // --- datetime ---
  /** KQL `ago(Δ)` relative to a fixed "now" (deterministic for tests). */
  def agoFrom(now: Column, seconds: Long): Column =
    now - expr(s"INTERVAL $seconds SECONDS")

  /** KQL `startofday/startofweek/startofmonth`. */
  def startofday(c: Column): Column = date_trunc("day", c)
  def startofweek(c: Column): Column = date_trunc("week", c)
  def startofmonth(c: Column): Column = date_trunc("month", c)

  // --- dynamic (Kusto `dynamic` ≈ JSON bag; ColumnType::Dynamic in the reference) ---
  /** KQL `todynamic(s)` / bag field access `d.path` over a JSON string column.
    * Uses get_json_object (codegen'd); VariantType is the alternative mapping. */
  def dynamicGet(jsonCol: Column, path: String): Column =
    get_json_object(jsonCol, s"$$.$path")

  def dynamicGetLong(jsonCol: Column, path: String): Column =
    dynamicGet(jsonCol, path).cast("long")

  /** KQL `todynamic` → Spark 4 VariantType: the binary dynamic encoding (shredded,
    * pushdown-capable) rather than per-access JSON string re-parsing — the mapping for
    * `ColumnType::Dynamic` (`/root/reference/src/store/segment_metadata.rs:135`). */
  def todynamic(jsonCol: Column): Column = parse_json(jsonCol)

  /** Typed variant path access (`d.path` with a KQL to* conversion applied). */
  def variantGetLong(v: Column, path: String): Column =
    variant_get(v, s"$$.$path", "bigint")
  def variantGetDouble(v: Column, path: String): Column =
    variant_get(v, s"$$.$path", "double")
  def variantGetString(v: Column, path: String): Column =
    variant_get(v, s"$$.$path", "string")

  // --- type conversions (KQL to*) ---
  def tolong(c: Column): Column = c.cast("long")
  def toint(c: Column): Column = c.cast("int")
  def todouble(c: Column): Column = c.cast("double")
  def tostring(c: Column): Column = c.cast("string")
  def tobool(c: Column): Column = c.cast("boolean")
  def todecimal(c: Column): Column = c.cast("decimal(38,18)")

  // --- IPv4 family (exact integer arithmetic; oracle-replayable) ---

  /** Zero the host bits below a /bits prefix: v − (v mod 2^(32−bits)).
    * Pure integer ops (pow(2,k) is exact in a double for k ≤ 32, then cast),
    * so both engines compute identical longs. */
  private[graft] def ipMask(v: Column, bits: Column): Column = {
    val p2 = pow(lit(2.0), (lit(32) - bits).cast("double")).cast("long")
    v - pmod(v, p2)
  }

  /** `(maskedValue << 6) | prefixBits` via the native one-pass kernel —
    * callers needing both the address and its suffix read them out of ONE
    * parse (shiftright / bitwiseAND) instead of re-expanding the split
    * tree per use site. */
  private[graft] def ipv4Pack(c: Column): Column =
    call_function("graft_ipv4_pack", c.cast("string"))

  /** KQL `parse_ipv4`: dotted-quad string → long, with an optional `/prefix`
    * suffix whose mask is applied (Kusto semantics); malformed input → null.
    * One-scan native kernel (ParseIpv4K). */
  def parseIpv4(c: Column): Column = shiftright(ipv4Pack(c), 6)

  /** The split-chain column formulation of [[parseIpv4]] — the NativeExprSpec
    * parity reference. */
  private[graft] def parseIpv4Hof(c: Column): Column = {
    val halves = split(c, "/")
    val bits = when(size(halves) > 1, element_at(halves, 2).cast("int"))
      .otherwise(lit(32))
    val p = split(element_at(halves, 1), "\\.")
    def oct(i: Int): Column = element_at(p, i + 1).cast("long")
    val raw = ((oct(0) * 256 + oct(1)) * 256 + oct(2)) * 256 + oct(3)
    val valid = size(p) === 4 && bits.between(0, 32) &&
      (0 until 4).map(i => oct(i).isNotNull && oct(i).between(0, 255))
        .reduce(_ && _)
    when(valid, ipMask(raw, bits))
  }

  /** KQL `format_ipv4`: numeric (or numeric-string) address → dotted quad. */
  def formatIpv4(c: Column): Column = {
    val v = c.cast("long")
    concat_ws(".",
      shiftright(v, 24).bitwiseAND(lit(255L)).cast("string"),
      shiftright(v, 16).bitwiseAND(lit(255L)).cast("string"),
      shiftright(v, 8).bitwiseAND(lit(255L)).cast("string"),
      v.bitwiseAND(lit(255L)).cast("string"))
  }

  /** KQL `ipv4_is_private`: RFC1918 ranges (10/8, 172.16/12, 192.168/16). */
  def ipv4IsPrivate(c: Column): Column = {
    val v = parseIpv4(c)
    when(v.isNotNull,
      v.between(167772160L, 184549375L) ||     // 10.0.0.0   – 10.255.255.255
        v.between(2886729728L, 2887778303L) || // 172.16.0.0 – 172.31.255.255
        v.between(3232235520L, 3232301055L))   // 192.168.0.0 – 192.168.255.255
  }

  /** KQL `ipv4_is_in_range(ip, range)`: the ip with the range's prefix mask
    * applied equals the range's base address. */
  def ipv4IsInRange(ip: Column, range: Column): Column = {
    val pr = ipv4Pack(range)
    val bits = pr.bitwiseAND(lit(63L)).cast("int")
    val base = shiftright(pr, 6)
    val v = parseIpv4(ip)
    when(v.isNotNull && base.isNotNull, ipMask(v, bits) === base)
  }

  /** KQL `ipv6_is_in_range(ip, range)` kernel (also the per-range step of
    * `ipv6_is_in_any_range`): both sides canonicalize to 32 zero-padded hex
    * digits (parseIpv6), the prefix compares as whole nibbles plus one
    * arithmetically-masked partial nibble. Fully data-driven — the prefix
    * length may come from a column (unlike ipv6_is_match's literal prefix),
    * so the nibble shift is floor-division by 2^(4−rem), not a literal
    * shiftright. Null on unparsable input or an out-of-range prefix. */
  def ipv6IsInRange(ip: Column, range: Column): Column = {
    val parts = split(range, "/")
    val len = when(size(parts) > 1, element_at(parts, 2).cast("int"))
      .otherwise(lit(128))
    val base = translate(parseIpv6(element_at(parts, 1)), ":", "")
    val a = translate(parseIpv6(ip), ":", "")
    val fullN = floor(len / 4).cast("int")
    val rem = pmod(len, lit(4))
    val wholeEq = substring(a, lit(1), fullN) === substring(base, lit(1), fullN)
    def nib(c: Column): Column = floor(
      conv(substring(c, fullN + 1, lit(1)), 16, 10).cast("double") /
        pow(lit(2.0), (lit(4) - rem).cast("double")))
    val partEq = when(rem === 0, lit(true)).otherwise(nib(a) === nib(base))
    when(a.isNull || base.isNull || len.isNull || len < 0 || len > 128,
      lit(null).cast("boolean")).otherwise(wholeEq && partEq)
  }

  /** geo_geohash_to_central_point as a COLUMN formulation (per-bit aggregate
    * folds over the base-32 token) — the NativeExprSpec parity reference for
    * the GeohashCenterExpr kernel KqlParser.geoHashDecode calls. */
  private[graft] def geohashCenterHof(gh: Column): Column = {
    val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    val cmap = map(alphabet.zipWithIndex.flatMap {
      case (c, i) => Seq(lit(c.toString), lit(i))
    }: _*)
    val pw5 = array(lit(16), lit(8), lit(4), lit(2), lit(1))
    element_at(transform(array(gh), g => {
      val cv = transform(split(g, ""), c => element_at(cmap, c))
      val n = size(cv)
      val lonBits = ((n * 5 + 1) / lit(2)).cast("int")
      val latBits = n * 5 - lonBits
      // global bit i = bit (4 − i%5) of char i/5
      def bit(i: Column): Column =
        pmod((element_at(cv, (i / 5).cast("int") + 1) /
          element_at(pw5, pmod(i, lit(5)).cast("int") + 1)).cast("int"), lit(2)).cast("long")
      def unravel(bits: Column, phase: Int): Column =
        aggregate(sequence(lit(0), bits - 1), lit(0L),
          (acc, j) => acc * 2 + bit(j * 2 + phase))
      def scale(bits: Column): Column =
        aggregate(sequence(lit(1), bits), lit(1L), (acc, _) => acc * 2)
      val lonC = (unravel(lonBits, 0).cast("double") + 0.5) /
        scale(lonBits).cast("double") * 360.0 - 180.0
      val latC = (unravel(latBits, 1).cast("double") + 0.5) /
        scale(latBits).cast("double") * 180.0 - 90.0
      struct(lonC.as("lng"), latC.as("lat"))
    }), 1)
  }

  /** `geo_point_in_polygon` kernel — even-odd ray cast over the closed
    * vertex ring. The comparison order is FIXED (identical IEEE chain to
    * the DuckDB oracle replays and the native covering's residual test) so
    * containment can never flip across engines. Horizontal edges make the
    * guard false before the ±Inf division is used. Deviation (documented):
    * takes a bare vertex ring, not Kusto's GeoJSON bag. Native codegen'd
    * loop (GeoKernelExpressions); [[pointInPolygonHof]] is its parity
    * reference. An empty ring → null (the geo posture). */
  def pointInPolygon(x0: Column, y0: Column, ring: Column): Column =
    when(size(ring) > 0, call_function(graft.plans.GeoKernelExpressions.pipName,
      x0.cast("double"), y0.cast("double"), ring.cast("array<array<double>>")))

  private[graft] def pointInPolygonHof(x0: Column, y0: Column, ring: Column): Column = {
    val x = x0.cast("double"); val y = y0.cast("double")
    val n = size(ring)
    val crossings = aggregate(sequence(lit(0), n - 1), lit(0),
      (acc, i) => {
        val a = element_at(ring, i + 1)
        val b = element_at(ring, pmod(i + 1, n) + 1)
        val xi = element_at(a, 1).cast("double"); val yi = element_at(a, 2).cast("double")
        val xj = element_at(b, 1).cast("double"); val yj = element_at(b, 2).cast("double")
        val crosses = ((yi > y) =!= (yj > y)) &&
          (x < (xj - xi) * (y - yi) / (yj - yi) + xi)
        acc + when(crosses, 1).otherwise(0)
      })
    pmod(crossings, lit(2)) === 1
  }

  /** `geo_distance_point_to_line` kernel — min over segments of the
    * point-to-segment distance in a local equirectangular projection,
    * scaled to meters on the mean-radius sphere (same deviation posture as
    * geo_distance_2points: spherical, not WGS84 geodesic). Native loop,
    * like pointInPolygon. A line of fewer than 2 vertices → null. */
  def pointToLineMeters(lngC: Column, latC: Column, line: Column): Column =
    when(size(line) >= 2, call_function(graft.plans.GeoKernelExpressions.plineName,
      lngC.cast("double"), latC.cast("double"), line.cast("array<array<double>>")))

  private[graft] def pointToLineMetersHof(lngC: Column, latC: Column, line: Column): Column = {
    val px = lngC.cast("double"); val py = latC.cast("double")
    val cosl = cos(radians(py))
    val minDeg = aggregate(sequence(lit(0), size(line) - 2),
      lit(Double.PositiveInfinity), (acc, i) => {
        val a = element_at(line, i + 1); val b = element_at(line, i + 2)
        val x1 = (element_at(a, 1).cast("double") - px) * cosl
        val y1 = element_at(a, 2).cast("double") - py
        val x2 = (element_at(b, 1).cast("double") - px) * cosl
        val y2 = element_at(b, 2).cast("double") - py
        val dx = x2 - x1; val dy = y2 - y1
        val len2 = dx * dx + dy * dy
        val t = when(len2 > 0,
          greatest(lit(0.0), least(lit(1.0), -(x1 * dx + y1 * dy) / len2)))
          .otherwise(lit(0.0))
        val cx = x1 + t * dx; val cy = y1 + t * dy
        least(acc, sqrt(cx * cx + cy * cy))
      })
    minDeg * lit(math.Pi / 180 * 6371000.0)
  }

  /** Properly-delimited IPv4 tokens of a text (the `has_ipv4` family's notion
    * of "appears in the text": the address must be bounded by non-word,
    * non-dot delimiters, and every octet must be 0–255). */
  def ipv4Tokens(text: Column): Column = {
    val cands = regexp_extract_all(text,
      lit("(?<![\\w.])((?:\\d{1,3}\\.){3}\\d{1,3})(?![\\w.])"), lit(1))
    filter(cands, t => parseIpv4(t).isNotNull)
  }

  /** KQL `has_ipv4(text, ip)` — the exact (valid) address appears delimited. */
  def hasIpv4(text: Column, ip: Column): Column =
    parseIpv4(ip).isNotNull && array_contains(ipv4Tokens(text), ip)

  /** KQL `has_ipv4_prefix(text, prefix)` — a valid delimited address starting
    * with the textual prefix (Kusto's prefix ends at an octet boundary by
    * convention: "12.13.") appears. */
  def hasIpv4Prefix(text: Column, prefix: Column): Column =
    exists(ipv4Tokens(text), t => t.startsWith(prefix))

  /** KQL `ipv4_range_to_cidr_list(start, end)` — minimal CIDR cover of the
    * inclusive address range, as "a.b.c.d/p" strings. The classic greedy
    * walk (largest aligned block that fits the remainder) expressed as a
    * bounded 64-step functional fold — a range never needs more than 64
    * CIDRs (≤2 per prefix length), and each step is pure integer/double
    * arithmetic, so the whole thing stays inside WholeStageCodegen. */
  def ipv4RangeToCidrList(startIp: Column, endIp: Column): Column = {
    // the parsed range END and the VALIDITY verdict both ride IN the
    // accumulator: a captured expression would be RE-EVALUATED (the whole
    // parseIpv4 split/validate tree) on every one of the 64 interpreted
    // lambda iterations — measured 1.7 s for 250 rows on q_kql_ipv4_text —
    // and a final `when(s.isNotNull && ...)` guard would re-parse both
    // endpoints again. Zero value: out = null marks an invalid range; the
    // fold is then referenced exactly ONCE below.
    val stepped = aggregate(
      sequence(lit(1), lit(64)),
      {
        val s = parseIpv4(startIp)
        val e = parseIpv4(endIp)
        struct(s.as("cur"), e.as("end"),
          when(s.isNotNull && e.isNotNull && s <= e,
            array().cast("array<string>")).as("out"))
      },
      (acc, _) => {
        val cur = acc.getField("cur")
        val e = acc.getField("end")
        val span = e - cur + 1L
        // largest aligned block at cur: cur & -cur (cur = 0 → whole space)
        val align = when(cur === 0L, lit(4294967296L)).otherwise(cur.bitwiseAND(-cur))
        // largest power of two ≤ span: +0.5 keeps floor() exact at powers of 2
        // (pow-of-2 doubles are exact well past 2^32)
        val fit = pow(lit(2.0), floor(log(2.0, span.cast("double") + 0.5))).cast("long")
        val size = least(align, fit)
        val prefix = lit(32) - floor(log(2.0, size.cast("double") + 0.5)).cast("int")
        when(acc.getField("out").isNull || cur > e, acc).otherwise(
          struct((cur + size).as("cur"), e.as("end"),
            concat(acc.getField("out"),
              array(concat_ws("/", formatIpv4(cur), prefix.cast("string")))).as("out")))
      })
    stepped.getField("out")
  }

  /** KQL `ipv4_compare(a, b [, prefix])` → −1/0/1 under the EFFECTIVE prefix:
    * the smallest of both operands' `/suffix`es and the optional argument
    * (Kusto's combination rule). parseIpv4 already applies each operand's own
    * suffix; re-masking with the (≤) effective prefix composes exactly. Each
    * operand is ONE kernel call whose packed long carries both the masked
    * value and the suffix. */
  def ipv4Compare(a: Column, b: Column, extra: Column): Column = {
    val pa = ipv4Pack(a); val pb = ipv4Pack(b)
    val eff = least(pa.bitwiseAND(lit(63L)).cast("int"),
      pb.bitwiseAND(lit(63L)).cast("int"), extra.cast("int"))
    val va = ipMask(shiftright(pa, 6), eff)
    val vb = ipMask(shiftright(pb, 6), eff)
    when(va.isNotNull && vb.isNotNull,
      when(va < vb, -1L).when(va > vb, 1L).otherwise(0L))
  }

  /** KQL `ipv4_is_match`: masked equality under the same effective prefix;
    * null (not false) on malformed input, like the rest of the family. */
  def ipv4IsMatch(a: Column, b: Column, extra: Column): Column =
    ipv4Compare(a, b, extra) === 0L

  /** KQL `parse_ipv6`: canonical full form — 8 zero-padded lowercase hex
    * groups — with `::` expansion. Pure string/array expressions, replayable
    * by the oracle with the same list operations. Deviations (documented):
    * no embedded dotted-quad (IPv4-mapped) tail, no zone index; malformed
    * input → null (Kusto's try-semantics). The canonical form makes
    * lexicographic comparison equal numeric comparison, which ipv6_compare /
    * ipv6_is_match exploit. One-pass native kernel (ParseIpv6). */
  def parseIpv6(c: Column): Column =
    call_function("graft_parse_ipv6", c.cast("string"))

  /** The HOF column formulation of [[parseIpv6]] — the NativeExprSpec parity
    * reference. */
  private[graft] def parseIpv6Hof(c: Column): Column = {
    val t = lower(trim(c.cast("string")))
    val parts = split(t, "::", -1)
    val hasDC = size(parts) > 1
    def groups(seg: Column): Column =
      filter(split(seg, ":"), x => x =!= "")
    val lg = groups(element_at(parts, 1))
    val rg = when(hasDC, groups(element_at(parts, 2))).otherwise(array().cast("array<string>"))
    val missing = lit(8) - size(lg) - size(rg)
    val full = when(hasDC,
      concat(lg, array_repeat(lit("0"), missing), rg)).otherwise(lg)
    val valid = size(full) === 8 &&
      forall(full, x => x.rlike("^[0-9a-f]{1,4}$")) &&
      (!hasDC || (missing >= 1 && size(parts) === 2))
    when(valid, array_join(transform(full, x => lpad(x, 4, "0")), ":"))
  }

  /** KQL `parse_user_agent(ua, 'browser'|'os'|both)` — compact rule-based
    * family + version detection over the common tokens (Edge/Opera/Chrome/
    * Firefox/Safari/IE; Windows/macOS/iOS/Android/Linux), built as a typed
    * nested struct (dot-accessible). Deviation (documented): Kusto embeds the
    * full uap-core regex corpus (thousands of published data rules); this
    * covers the mainstream families and reports Family/MajorVersion/
    * MinorVersion, with 'Other' for the long tail. */
  def parseUserAgent(ua0: Column, wantBrowser: Boolean, wantOs: Boolean): Column = {
    val ua = ua0.cast("string")
    // regexp_extract yields '' (never null) on no-match — nullify so
    // coalesce fallback chains actually fall through
    def ver(pat: String, grp: Int): Column = {
      val v = regexp_extract(ua, pat, grp)
      when(v =!= "", v)
    }
    val structs = Seq.newBuilder[Column]
    if (wantBrowser) {
      // order matters: Edge/Opera carry Chrome tokens, Chrome carries Safari
      val fam = when(ua.contains("Edg"), "Edge")
        .when(ua.contains("OPR/") || ua.contains("Opera"), "Opera")
        .when(ua.contains("Chrome/"), "Chrome")
        .when(ua.contains("Firefox/"), "Firefox")
        .when(ua.contains("Version/") && ua.contains("Safari/"), "Safari")
        .when(ua.contains("MSIE ") || ua.contains("Trident/"), "IE")
        .otherwise("Other")
      // Edg/ (desktop), Edge/ (legacy), EdgA/ (Android), EdgiOS/ — one token
      // family: Edg followed by letters
      val v = when(fam === "Edge", ver("Edg[A-Za-z]*/([0-9]+)", 1))
        .when(fam === "Opera", coalesce(ver("OPR/([0-9]+)", 1), ver("Opera[ /]([0-9]+)", 1)))
        .when(fam === "Chrome", ver("Chrome/([0-9]+)", 1))
        .when(fam === "Firefox", ver("Firefox/([0-9]+)", 1))
        .when(fam === "Safari", ver("Version/([0-9]+)", 1))
        .when(fam === "IE", coalesce(ver("MSIE ([0-9]+)", 1), ver("rv:([0-9]+)", 1)))
        .otherwise(lit(""))
      val vm = when(fam === "Edge", ver("Edg[A-Za-z]*/[0-9]+\\.([0-9]+)", 1))
        .when(fam === "Chrome", ver("Chrome/[0-9]+\\.([0-9]+)", 1))
        .when(fam === "Firefox", ver("Firefox/[0-9]+\\.([0-9]+)", 1))
        .when(fam === "Safari", ver("Version/[0-9]+\\.([0-9]+)", 1))
        .otherwise(lit(""))
      structs += struct(fam.as("Family"), coalesce(v, lit("")).as("MajorVersion"),
        coalesce(vm, lit("")).as("MinorVersion")).as("Browser")
    }
    if (wantOs) {
      val fam = when(ua.contains("Windows Phone"), "Windows Phone")
        .when(ua.contains("Windows NT"), "Windows")
        .when(ua.contains("iPhone") || ua.contains("iPad"), "iOS")
        .when(ua.contains("Mac OS X"), "Mac OS X")
        .when(ua.contains("Android"), "Android")
        .when(ua.contains("CrOS"), "Chrome OS")
        .when(ua.contains("Linux"), "Linux")
        .otherwise("Other")
      val v = when(fam === "Windows", ver("Windows NT ([0-9]+)", 1))
        .when(fam === "iOS", ver("OS ([0-9]+)_", 1))
        .when(fam === "Mac OS X", ver("Mac OS X ([0-9]+)[._]", 1))
        .when(fam === "Android", ver("Android ([0-9]+)", 1))
        .otherwise(lit(""))
      structs += struct(fam.as("Family"),
        coalesce(v, lit("")).as("MajorVersion")).as("OperatingSystem")
    }
    struct(structs.result(): _*)
  }

  // --- exact-sum helpers ---
  /** Sum of a 2-decimal monetary double, computed exactly via decimal then returned as
    * double: deterministic regardless of partitioning/aggregation order — required both
    * for oracle reproducibility and for stable results at 100 TB where fp summation
    * order is nondeterministic across executors. */
  def exactSum2(c: Column): Column = sum(c.cast("decimal(30,2)")).cast("double")

  /** Exact sum of a product of two 2-decimal doubles (scale 4). */
  def exactSumMul(a: Column, b: Column): Column =
    sum(a.cast("decimal(30,2)") * b.cast("decimal(30,2)")).cast("double")

  /** Deterministic average of a 2-decimal double (exact decimal sum / count). */
  def exactAvg2(c: Column): Column = exactSum2(c) / count(c)
}
