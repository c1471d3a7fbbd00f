package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hierarchical host-rule matching — the crawl allow/block-list and
  * public-suffix primitive: a rule `src7.example.org` governs the host
  * itself and every subdomain, and the MOST SPECIFIC (longest-suffix)
  * matching rule wins, so `ads.src7.example.org → allow` can carve an
  * exception out of `src7.example.org → block`.
  *
  * Scale design (100 TB): the host's suffix chain is exploded map-side
  * (a host has ≤ ~6 labels, so ≤ 6 rows — constant fan-out), turning
  * every wildcard-suffix rule into an EQUI-join key. A million-rule
  * list therefore stays one hash join (broadcast while the list fits,
  * shuffle beyond), never a per-pattern LIKE scan over the corpus —
  * the same move as the public-suffix-list lookup in registrable-
  * domain extraction. Longest match needs no length column: suffix
  * position 0 IS the longest, so the per-doc window (≤ 6 rows) orders
  * by position.
  */
object HostRules {

  /** Match each `(idCol, hostCol)` row against `rules = (suffix,
    * action)` with longest-suffix-wins; unmatched hosts get
    * (`matched_rule` NULL, `default`). Output:
    * (idCol, hostCol, matched_rule, action). */
  def longestSuffixMatch(docs: DataFrame, idCol: String, hostCol: String,
                         rules: Seq[(String, String)],
                         default: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ruleDf = rules.toDF("rule", "action")
    val parts = split(col(hostCol), "\\.")
    val sx = docs.select(col(idCol), col(hostCol),
      posexplode(transform(sequence(lit(1), size(parts)),
        i => array_join(slice(parts, i, size(parts)), ".")))
        .as(Seq("pos", "suffix")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val best = sx.join(broadcast(ruleDf), col("suffix") === col("rule"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("rule").as("matched_rule"), col("action"))
    docs.join(best, Seq(idCol), "left")
      .select(col(idCol), col(hostCol), col("matched_rule"),
        coalesce(col("action"), lit(default)).as("action"))
  }

  /** The PATH-level sibling of [[longestSuffixMatch]] — robots-style
    * longest-prefix rules over URL paths (`/static → disallow`,
    * `/static/p1 → allow` carves the exception), segment-granular so
    * `/img` never matches `/imgx`. Same scale shape: the path's
    * prefix chain is exploded map-side (≤ path depth rows), each rule
    * becomes an equi-join key, most-specific = most segments. */
  def longestPathPrefixMatch(docs: DataFrame, idCol: String,
                             pathCol: String, rules: Seq[(String, String)],
                             default: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ruleDf = rules.toDF("rule", "action")
    val parts = split(regexp_replace(col(pathCol), "^/", ""), "/")
    val sx = docs.select(col(idCol), col(pathCol),
      posexplode(transform(sequence(lit(1), size(parts)),
        i => concat(lit("/"), array_join(slice(parts, lit(1), i), "/"))))
        .as(Seq("pos", "prefix")))
    // pos ascends with segment count → the LAST matching pos is the
    // most specific rule
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos").desc)
    val best = sx.join(broadcast(ruleDf), col("prefix") === col("rule"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("rule").as("matched_rule"), col("action"))
    docs.join(best, Seq(idCol), "left")
      .select(col(idCol), col(pathCol), col("matched_rule"),
        coalesce(col("action"), lit(default)).as("action"))
  }

  /** [[longestPathPrefixMatch]] extended with the robots.txt wildcard
    * grammar (RFC 9309): rules may STAR whole segments (`/a/&#42;/c`)
    * and/or END-ANCHOR with `$` (`/a/b$` matches only the exact
    * path). Precedence follows the RFC's most-specific-match rule:
    * longest literal-octet count wins, a literal segment beats a star
    * at equal length, and an allow beats an equivalent disallow.
    *
    * A SHARED literal rule list needs no join at all: the rules ride
    * in the plan as an array literal and every row evaluates them
    * directly via [[robotsPathMatchCols]] — a pure projection,
    * O(|rules| · depth) per row, zero key fan-out, zero shuffle,
    * stream-safe. (This replaced the [[wildcardProbe]] key-expansion
    * join here: for ~dozens of shared rules the projection is
    * strictly cheaper, and a deep crawler-trap path cost the probe
    * 2^(maxSegs+1) ≈ 512 rows where the projection pays |rules|
    * comparisons.) The probe join remains the right shape when the
    * rules are a TABLE too large for a plan literal — that path is
    * [[robotsPathMatchAgainst]]. Capped-depth semantics are identical
    * to the probe form and value-pinned by q174's oracle.
    * Grammar note: `*` here matches exactly one whole segment — the
    * joinable subclass shared with the probe form; the FULL RFC
    * grammar (spanning / intra-segment `*`) is
    * [[robotsPathMatchRfc]], whose per-rule LIKE evaluation has no
    * joinable key shape but also no depth cap. */
  def robotsPathMatch(docs: DataFrame, idCol: String, pathCol: String,
                      rules: Seq[(String, String)],
                      default: String): DataFrame = {
    val ruleArr = array(rules.map { case (r, a) =>
      struct(lit(r).as("rule"), lit(a).as("action")) }: _*)
    docs.select(col(idCol) +: col(pathCol) +:
      robotsPathMatchCols(col(pathCol), ruleArr, default): _*)
  }

  /** [[robotsPathMatch]] against a PER-HOST rule TABLE
    * (host, rule, action) — the end-to-end form fed by
    * [[Robots.selectRules]], where every host carries its own parsed
    * robots rules. Identical wildcard grammar and precedence; the
    * join adds `host` as a second equi-key, so at crawl scale both
    * sides hash-partition by host (millions of hosts × dozens of
    * rules is NOT broadcast-sized — the unhinted join lets Spark/AQE
    * broadcast only when the parsed table actually fits). */
  def robotsPathMatchAgainst(docs: DataFrame, idCol: String,
                             hostCol: String, pathCol: String,
                             hostRules: DataFrame,
                             default: String): DataFrame = {
    val probe = wildcardProbe(docs, idCol, pathCol, carry = Seq(hostCol))
    // distinct rules-side name: the bodies often derive from the same
    // relation as the docs (self-derived lineage), and a shared column
    // name would trip the ambiguous-self-join check
    val rules = hostRules.select(col("host").as("_rule_host"),
      col("rule"), col("action"))
    val best = probe.join(rules, col(hostCol) === col("_rule_host") &&
        col("key") === col("rule"))
      .withColumn("rn", row_number().over(robotsPrecedence(idCol)))
      .filter(col("rn") === 1)
      .select(col(idCol), col("rule").as("matched_rule"), col("action"))
    docs.join(best, Seq(idCol), "left")
      .select(col(idCol), col(hostCol), col(pathCol), col("matched_rule"),
        coalesce(col("action"), lit(default)).as("action"))
  }

  /** The map-side wildcard-class key expansion shared by both robots
    * matchers: for every prefix length m = 0..depth, all 2^m
    * literal/star segment substitutions (m = 0 is the bare "/" key —
    * `Disallow: /`, the most common robots rule, must match EVERY
    * path, not just the literal root), plus the `$`-anchored variant
    * of each full-depth form. `carry` columns ride along for
    * composite join keys (the per-host matcher carries the host).
    *
    * `maxSegs` bounds the 2^m fan-out: a crawler-trap URL with dozens
    * of segments would otherwise explode into millions of probe rows
    * (and past ~31 segments overflow `sequence` outright), taking the
    * whole stage down for one adversarial path. Segments beyond the
    * cap generate only the capped prefix forms — a rule deeper than
    * `maxSegs` segments can then never match, the documented price of
    * bounding the worst case at 2^(maxSegs+1) rows per path. */
  private def wildcardProbe(docs: DataFrame, idCol: String,
                            pathCol: String, carry: Seq[String],
                            maxSegs: Int = 8): DataFrame = {
    val parts = split(regexp_replace(col(pathCol), "^/", ""), "/")
    val k = least(size(parts), lit(maxSegs))
    val uncapped = size(parts) <= maxSegs
    def masks(m: Column): Column =
      sequence(lit(0L), pow(lit(2.0), m.cast("double")).cast("long") - 1)
    def keyFor(m: Column, mask: Column): Column =
      // the m = 0 guard keeps sequence(1, 0) (a DESCENDING range in
      // Spark, not an empty one) out of the transform — when() only
      // evaluates the taken branch
      when(m === 0, lit("/")).otherwise(
        concat(lit("/"), array_join(transform(sequence(lit(1), m.cast("int")),
          j => when(pmod((mask.cast("double") /
                pow(lit(2.0), (j - 1).cast("double"))).cast("long"), lit(2)) === 1,
              lit("*"))
            .otherwise(element_at(parts, j))), "/")))
    val expanded = docs.select(col(idCol) +: carry.map(col) :+
      explode(flatten(transform(sequence(lit(0), k), m =>
        transform(masks(m), mask =>
          struct((uncapped && m === k).as("full"),
            keyFor(m, mask).as("key"))))))
        .as("e"): _*)
      .select(col(idCol) +: carry.map(col) :+
        col("e.full").as("full") :+ col("e.key").as("key0"): _*)
    expanded.select(col(idCol) +: carry.map(col) :+
      explode(when(col("full"),
          array(col("key0"), concat(col("key0"), lit("$"))))
        .otherwise(array(col("key0")))).as("key"): _*)
  }

  /** Projection-shaped per-row form of [[robotsPathMatchAgainst]]:
    * the host's governing rules arrive as an ARRAY column
    * (host → array&lt;struct&lt;rule,action&gt;&gt;, one equi-join on
    * host upstream) and each row evaluates its own handful of rules
    * directly — identical wildcard grammar and RFC 9309 precedence,
    * but NO 2^depth key fan-out, no per-doc window, no shuffle after
    * the host join. Being a pure projection it runs UNCHANGED on a
    * stream with zero state (the [[longestSuffixMatchCols]]
    * discipline; the robots streaming spec pins
    * stream ≡ batch ≡ the join variant). Per-row cost is
    * O(|rules| · depth) — the right shape both per-host (rules arrive
    * as an array column) and for a shared literal list
    * ([[robotsPathMatch]] inlines the list as an array literal); the
    * probe join earns its 2^depth key explosion only when the rules
    * are an unbounded TABLE ([[robotsPathMatchAgainst]]).
    *
    * @param rules array&lt;struct&lt;rule: string, action: string&gt;&gt;
    * @return (matched_rule, action) columns */
  def robotsPathMatchCols(path: Column, rules: Column, default: String,
                          maxSegs: Int = 8): Seq[Column] = {
    val parts = split(regexp_replace(path, "^/", ""), "/")
    val k = size(parts)
    val kCap = least(k, lit(maxSegs))
    // a rule matches iff its text equals one of the join variant's
    // generated probe keys — re-derived here per rule: segment-wise
    // literal/star alignment over the rule's own depth, full-depth
    // (and within the cap) when `$`-anchored, the bare "/" matching
    // everything (the m=0 key). Rules not starting with "/" match no
    // generated key, mirroring the join variant exactly.
    def matches(r: Column): Column = {
      val rule = r.getField("rule")
      val anchored = rule.endsWith("$")
      val core = regexp_replace(rule, "\\$$", "")
      val rSegs = split(regexp_replace(core, "^/", ""), "/")
      val m = size(rSegs)
      val segsOk = forall(zip_with(rSegs, slice(parts, lit(1), m),
        (a, b) => a === lit("*") || a === b), x => x)
      rule.startsWith("/") &&
        ((rule === "/") || (m <= kCap && (!anchored || m === k) && segsOk))
    }
    val best = mostSpecific(filter(rules, matches(_)))
    Seq(best.getField("rule").as("matched_rule"),
      coalesce(best.getField("action"), lit(default)).as("action"))
  }

  /** The SEGMENT-grammar precedence fold over an array of matched
    * (rule, action) structs — longest literal octets, fewer stars,
    * allow over disallow, rule text — shared by the whole-segment-`*`
    * projection matchers (the joinable subclass, where a star always
    * stands for exactly one segment so literal-octet count is the
    * natural specificity). The FULL-RFC matcher ranks by total
    * pattern octets instead ([[mostSpecificRfc]]). One
    * integer-comparison aggregate, no sort. */
  private def mostSpecific(matched: Column): Column = {
    def litLen(rule: Column) = length(translate(rule, "*$", ""))
    def nStars(rule: Column) =
      length(rule) - length(translate(rule, "*", ""))
    def actRank(a: Column) = when(a === "allow", 0).otherwise(1)
    aggregate(matched,
      lit(null).cast("struct<rule:string,action:string>"),
      (acc, x) => {
        val (xr, ar) = (x.getField("rule"), acc.getField("rule"))
        val (xa, aa) = (actRank(x.getField("action")),
          actRank(acc.getField("action")))
        val better = acc.isNull ||
          litLen(xr) > litLen(ar) ||
          (litLen(xr) === litLen(ar) && (nStars(xr) < nStars(ar) ||
            (nStars(xr) === nStars(ar) &&
              (xa < aa || (xa === aa && xr < ar)))))
        when(better, x).otherwise(acc)
      })
  }

  /** RFC 9309 §2.2.2 most-specific-match fold for the FULL wildcard
    * grammar: "the most octets" — rank by TOTAL pattern length (the
    * trailing `$` anchor excluded; stars count, exactly what Google's
    * open-sourced parser computes), allow over an equal-length
    * disallow, rule text as the deterministic final tie-break. This
    * deliberately differs from [[mostSpecific]]'s literal-octet rank:
    * under the full grammar `Allow: /page*` (6 octets) outranks
    * `Disallow: /page` (5) on `/page1` — the RFC/Google verdict is
    * allow, where a literal-octets rank would flip it. */
  private def mostSpecificRfc(matched: Column): Column = {
    def effLen(rule: Column) =
      length(rule) - when(rule.endsWith("$"), 1).otherwise(0)
    def actRank(a: Column) = when(a === "allow", 0).otherwise(1)
    aggregate(matched,
      lit(null).cast("struct<rule:string,action:string>"),
      (acc, x) => {
        val (xr, ar) = (x.getField("rule"), acc.getField("rule"))
        val (xa, aa) = (actRank(x.getField("action")),
          actRank(acc.getField("action")))
        val better = acc.isNull ||
          effLen(xr) > effLen(ar) ||
          (effLen(xr) === effLen(ar) &&
            (xa < aa || (xa === aa && xr < ar)))
        when(better, x).otherwise(acc)
      })
  }

  /** FULL RFC 9309 wildcard matching: `*` matches ANY character
    * sequence — spanning path segments and partial segments alike —
    * and `$` anchors the rule to the end of the path; an un-anchored
    * rule matches any path it prefixes. This is the grammar the RFC
    * actually specifies; [[robotsPathMatchCols]]'s whole-segment `*`
    * is the JOINABLE subclass of it (the shape that turns a rule
    * TABLE into equi-join keys), and q174/q207 pin the two
    * side-by-side. Each rule compiles to a SQL LIKE pattern — literal
    * `%`/`_`/`\` escaped, `*` → `%`, a trailing `%` unless anchored
    * (LIKE full-matches, so the prefix semantics come from that
    * trailing `%`) — evaluated per row: O(|rules| · |path|), no key
    * fan-out, NO depth cap (nothing explodes, so a crawler-trap path
    * costs its own length and rules deeper than 8 segments match
    * fine), stateless and stream-safe like every projection matcher.
    * Precedence is the RFC's §2.2.2 "most octets" rank
    * ([[mostSpecificRfc]]): total pattern length minus a trailing
    * `$`, allow winning length ties — NOT the segment subclass's
    * literal-octet rank, and the two verdicts observably differ
    * (`Allow: /page*` vs `Disallow: /page` on `/page1` → allow here).
    *
    * @param rules array&lt;struct&lt;rule: string, action: string&gt;&gt;
    * @return (matched_rule, action) columns */
  def robotsPathMatchRfcCols(path: Column, rules: Column,
                             default: String): Seq[Column] = {
    // compatibility form: compile per evaluation — prefer the hoisted
    // [[robotsPathMatchRfcCompiledCols]] + [[compileRfcPatternCol]]
    // on a rules RELATION (the r12 q207/q208 floor cost was exactly
    // this per-(path,rule) normalization)
    val compiled = transform(rules, r => struct(
      r.getField("rule").as("rule"), r.getField("action").as("action"),
      compileRfcPatternCol(r.getField("rule")).as("pat")))
    robotsPathMatchRfcCompiledCols(
      UrlCanon.percentNormalize(path), compiled, default)
  }

  /** Compile ONE rule to its escaped LIKE pattern — Column form for a
    * rules relation (one evaluation per rule ROW, hoisted off the
    * per-path match): normalize percent-octets (RFC 9309 §2.2.2 —
    * `%2f` vs `%2F` vs an encoded unreserved char must not split the
    * verdict; precedence still ranks on the RAW rule's octets),
    * escape `\` `%` `_`, `*` → `%`, trailing `%` unless `$`-anchored
    * (LIKE full-matches, so prefix semantics come from that `%`). */
  def compileRfcPatternCol(rule: Column): Column = {
    val anchored = rule.endsWith("$")
    val core = UrlCanon.percentNormalize(regexp_replace(rule, "\\$$", ""))
    val body = replace(replace(replace(replace(
      core, lit("\\"), lit("\\\\")), lit("%"), lit("\\%")),
      lit("_"), lit("\\_")), lit("*"), lit("%"))
    when(anchored, body).otherwise(concat(body, lit("%")))
  }

  /** Driver-side twin of [[compileRfcPatternCol]] for LITERAL rule
    * lists — compiles on the driver, so the array-literal projection
    * ships finished patterns (RobotsSpec pins the twins equal). */
  def compileRfcPatternStr(rule: String): String = {
    val anchored = rule.endsWith("$")
    val core = UrlCanon.percentNormalizeStr(
      if (anchored) rule.dropRight(1) else rule)
    val body = core.replace("\\", "\\\\").replace("%", "\\%")
      .replace("_", "\\_").replace("*", "%")
    if (anchored) body else body + "%"
  }

  /** The RFC matcher over PRE-COMPILED rules: `rules` is
    * array&lt;struct&lt;rule, action, pat&gt;&gt; (from
    * [[compileRfcPatternCol]]/[[compileRfcPatternStr]]) and `pathN`
    * the ALREADY-normalized path — project
    * `UrlCanon.percentNormalize(path)` as its own column first so it
    * evaluates once per row, not once per rule.
    * @return (matched_rule, action) columns */
  def robotsPathMatchRfcCompiledCols(pathN: Column, rules: Column,
                                     default: String): Seq[Column] = {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    def matches(r: Column): Column =
      r.getField("rule").startsWith("/") &&
        column(org.apache.spark.sql.catalyst.expressions.Like(
          expression(pathN), expression(r.getField("pat")), '\\'))
    // strip `pat` before the precedence fold — its accumulator is the
    // bare (rule, action) struct
    val best = mostSpecificRfc(transform(filter(rules, matches(_)),
      r => struct(r.getField("rule").as("rule"),
        r.getField("action").as("action"))))
    Seq(best.getField("rule").as("matched_rule"),
      coalesce(best.getField("action"), lit(default)).as("action"))
  }

  /** [[robotsPathMatch]]'s sibling under the FULL RFC grammar — the
    * shared literal rule list compiled ON THE DRIVER
    * ([[compileRfcPatternStr]]), so per row the only work left is
    * one path normalization plus the LIKE evaluations. */
  def robotsPathMatchRfc(docs: DataFrame, idCol: String, pathCol: String,
                         rules: Seq[(String, String)],
                         default: String): DataFrame = {
    val ruleArr = array(rules.map { case (r, a) =>
      struct(lit(r).as("rule"), lit(a).as("action"),
        lit(compileRfcPatternStr(r)).as("pat")) }: _*)
    docs
      .withColumn("_path_n", UrlCanon.percentNormalize(col(pathCol)))
      .select(col(idCol) +: col(pathCol) +:
        robotsPathMatchRfcCompiledCols(col("_path_n"), ruleArr, default): _*)
  }

  /** RFC 9309 most-specific-match precedence: longest literal octets,
    * literal beats star at equal length, allow beats an equivalent
    * disallow, rule text as the final deterministic tie-break. */
  private def robotsPrecedence(idCol: String)
      : org.apache.spark.sql.expressions.WindowSpec = {
    val litLen = length(translate(col("rule"), "*$", ""))
    val nStars = length(col("rule")) - length(translate(col("rule"), "*", ""))
    Window.partitionBy(col(idCol)).orderBy(
      litLen.desc, nStars.asc,
      when(col("action") === "allow", 0).otherwise(1), col("rule"))
  }

  /** Registrable-domain (eTLD+1) extraction under PUBLIC-SUFFIX-LIST
    * semantics (publicsuffix.org's algorithm): among the rules
    * matching a host, an EXCEPTION rule (`!foo.bar`) prevails and
    * names a public suffix one label shorter than itself; otherwise
    * the LONGEST match wins — exact rules (`co.uk`) match themselves
    * as a suffix, wildcard rules (`*.ck`) match any suffix whose
    * parent is the rule's domain; with no match the default `*` rule
    * applies (the top label is the public suffix). The registrable
    * domain is the public suffix plus one label, NULL when the host
    * IS a public suffix. Per-domain caps and host statistics keyed on
    * raw hosts over-split (`a.blogspot.com` vs `b.blogspot.com` are
    * different registrants; `cdn.example.com` vs `www.example.com`
    * are the same) — eTLD+1 is the key that matches ownership.
    *
    * Scale shape: the same suffix-chain explode as
    * [[longestSuffixMatch]] (≤ ~6 rows per host, and each row carries
    * its PARENT suffix, which is what turns `*.`-wildcard rules into
    * equi-join keys too — no per-pattern scans); three broadcast
    * equi-joins against the rule table split by kind; winner by a
    * per-host window over the handful of matches.
    *
    * @param pslRules rules in PSL syntax: `"com"`, `"co.uk"`,
    *                 `"*.ck"`, `"!www.ck"`
    * @return (idCol, hostCol, public_suffix, etld1 nullable) */
  def registrableDomain(docs: DataFrame, idCol: String, hostCol: String,
                        pslRules: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val parsed = pslRules.map { r =>
      if (r.startsWith("!")) (r.drop(1), "exception")
      else if (r.startsWith("*.")) (r.drop(2), "wildcard")
      else (r, "exact")
    }.toDF("domain", "kind")
    val parts = split(col(hostCol), "\\.")
    val n = size(parts)
    val sx = docs.select(col(idCol), n.as("n"),
      posexplode(transform(sequence(lit(1), n),
        i => struct(
          array_join(slice(parts, i, n), ".").as("suffix"),
          array_join(slice(parts, i + 1, n), ".").as("parent"))))
        .as(Seq("p0", "sp")))
      .select(col(idCol), col("n"), (col("p0") + 1).as("i"),
        col("sp.suffix").as("suffix"), col("sp.parent").as("parent"))
    def kind(k: String) = broadcast(parsed.filter(col("kind") === k))
    // exception: the public suffix is the matched rule MINUS its
    // leftmost label (n − i labels); prio 1 beats any length
    val exc = sx.join(kind("exception"), col("suffix") === col("domain"))
      .select(col(idCol), lit(1L).as("prio"),
        (col("n") - col("i")).cast("long").as("ps_labels"))
    val exa = sx.join(kind("exact"), col("suffix") === col("domain"))
      .select(col(idCol), lit(0L).as("prio"),
        (col("n") - col("i") + 1).cast("long").as("ps_labels"))
    val wld = sx.join(kind("wildcard"), col("parent") === col("domain"))
      .select(col(idCol), lit(0L).as("prio"),
        (col("n") - col("i") + 1).cast("long").as("ps_labels"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("prio").desc, col("ps_labels").desc)
    val best = exc.unionByName(exa).unionByName(wld)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(idCol), col("ps_labels"))
    docs.join(best, Seq(idCol), "left")
      .select(col(idCol), col(hostCol),
        coalesce(col("ps_labels"), lit(1L)).as("ps"))
      .select(col(idCol), col(hostCol),
        array_join(slice(parts, (n - col("ps") + 1).cast("int"), n), ".")
          .as("public_suffix"),
        when(n >= col("ps") + 1,
          array_join(slice(parts, (n - col("ps")).cast("int"), n), "."))
          .as("etld1"))
  }

  /** Stateless single-projection form of [[registrableDomain]] with
    * IDENTICAL PSL semantics (exception > longest exact/wildcard >
    * the default one-label rule): the rule lists ride in the plan as
    * IN-set literals and the per-suffix scores fold through one
    * `transform` + `array_max` — no explode, no join, no window, so
    * the projection runs UNCHANGED on a stream with zero state (the
    * domain-grain frontier stream keys politeness on it). Each
    * suffix position i scores `prio·1000 + ps_labels` (an exception
    * match carries prio 1 and names a suffix one label shorter than
    * itself; labels never approach 1000), so lexicographic
    * (prio, labels) max is one integer max. The curated-PSL-list
    * assumption is the same as [[longestSuffixMatchCols]]'s; the
    * join form remains the unbounded-rule-table path.
    * HostRulesSpec pins cols ≡ join variant over every rule kind.
    *
    * @return (public_suffix, etld1 nullable) columns */
  def registrableDomainCols(host: Column,
                            pslRules: Seq[String]): Seq[Column] = {
    val exc = pslRules.filter(_.startsWith("!")).map(_.drop(1))
    val wld = pslRules.filter(_.startsWith("*.")).map(_.drop(2))
    val exa = pslRules.filterNot(r => r.startsWith("!") || r.startsWith("*."))
    def inSet(c: Column, xs: Seq[String]): Column =
      if (xs.isEmpty) lit(false) else c.isInCollection(xs)
    val parts = split(host, "\\.")
    val n = size(parts)
    val scores = transform(sequence(lit(1), n), i => {
      val suffix = array_join(slice(parts, i, n), ".")
      val parent = array_join(slice(parts, i + 1, n), ".")
      when(inSet(suffix, exc), lit(1000L) + (n - i).cast("long"))
        .otherwise(when(inSet(suffix, exa) || inSet(parent, wld),
          (n - i + 1).cast("long")))
    })
    // array_max skips null entries (non-matching positions); null iff
    // nothing matched → the default one-label public suffix
    val ps = coalesce(pmod(array_max(scores), lit(1000L)), lit(1L))
    Seq(
      array_join(slice(parts, (n - ps + 1).cast("int"), n), ".")
        .as("public_suffix"),
      when(n >= ps + 1,
        array_join(slice(parts, (n - ps).cast("int"), n), "."))
        .as("etld1"))
  }

  /** Stateless single-projection variant with IDENTICAL semantics:
    * the rule table rides in the plan as a map literal (right for
    * curated lists; [[longestSuffixMatch]]'s join is the
    * unbounded-list path) and longest match = first hit scanning
    * suffix positions ascending. Being a pure projection, it runs
    * UNCHANGED on a stream with zero state — the ingest-hygiene
    * contract (StreamingIngestSpec proves stream ≡ batch ≡ the join
    * variant). Returns (matched_rule, action) columns. */
  def longestSuffixMatchCols(host: org.apache.spark.sql.Column,
                             rules: Seq[(String, String)],
                             default: String): Seq[org.apache.spark.sql.Column] = {
    val m = map(rules.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val parts = split(host, "\\.")
    val suffixes = transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts)), "."))
    val hits = filter(suffixes, sx => element_at(m, sx).isNotNull)
    // guarded element_at: ANSI mode throws on out-of-bounds indices
    val rule = when(size(hits) > 0, element_at(hits, 1))
    Seq(rule.as("matched_rule"),
      coalesce(element_at(m, rule), lit(default)).as("action"))
  }
}
