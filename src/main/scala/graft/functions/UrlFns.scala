package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization — the crawl-side TIER-0 dedup key: before any
  * content fingerprint runs, a web corpus collapses re-crawls of the same
  * resource whose URLs differ only in case, default ports, fragments,
  * tracking parameters, query-parameter order, or percent-encoding
  * spelling. At 100 TB this is a map-side projection ahead of the q07
  * fingerprint shuffle — it removes the cheapest duplicate class without
  * touching document bytes.
  *
  * The spec is deliberately REGEX/LIST-portable (every step has the same
  * spelling in DuckDB), so the transform itself is oracle-hash-checked
  * per row (q260) rather than trusted:
  *
  *  1. normalize percent-encoding (RFC 3986 §6.2.2: decode `%XX` triplets
  *     of UNRESERVED characters — ALPHA / DIGIT / `-._~` — and uppercase
  *     the hex of the triplets that stay encoded; `%2f` and `%2F` spell
  *     the same reserved byte, `%7E` and `~` the same unreserved one);
  *  2. strip the `#fragment`;
  *  3. lowercase the scheme and the host (path/query case PRESERVED —
  *     paths are case-sensitive on most origins);
  *  4. strip the scheme's default port (`:443` for https, `:80` for http);
  *  5. drop tracking query params (`utm_*`, `fbclid`, `gclid`);
  *  6. sort the surviving query params bytewise (param order is
  *     almost never semantic; sorting makes the key order-independent);
  *  7. an empty path becomes `/`; an emptied query drops its `?`.
  *
  * Trailing-slash folding and RESERVED-character decoding are deliberately
  * NOT done: both change semantics on real origins (`/a` vs `/a/` can
  * differ; decoding `%2F` merges distinct resources). The HOF steps
  * (filter/sort/transform over split lists) are interpreted — fine for a
  * cleaning projection; fuse into a kernel only if a profile shows it
  * hot. */
object UrlFns {

  private val TrackingParam = "^(utm_[^=]*|fbclid|gclid)(=|$)"

  /** Hex codes of RFC 3986 UNRESERVED characters (ALPHA / DIGIT /
    * `-._~`) — the percent-triplets [[normalizePercentEncoding]] decodes.
    * Uppercase, matching the triplet-hex normalization. */
  private[graft] val UnreservedHex: Seq[String] =
    (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++ Seq('-', '.', '_', '~'))
      .map(c => f"${c.toInt}%02X")

  /** RFC 3986 §6.2.2.1-2 percent-encoding normalization: split on `%`,
    * and for each following part decode the leading two-hex-digit triplet
    * when it spells an unreserved character, uppercase its hex when it
    * stays encoded, and pass a malformed escape (`%z`, trailing `%`)
    * through verbatim. Decoding an unreserved triplet can never create a
    * URL delimiter (`# ? & = / :` are all reserved), so this runs as
    * step 0 on the RAW url and every later step sees normalized text.
    * Only single-byte ASCII triplets decode — multi-byte UTF-8 sequences
    * (`%C3%A9`) are reserved-class by the hex list and just get their
    * hex uppercased. */
  def normalizePercentEncoding(u: Column): Column = {
    val parts = split(u, "%", -1)
    val tail = slice(parts, lit(2), size(parts))
    val fixed = transform(tail, p => {
      val h = upper(substring(p, 1, 2))
      val rest = p.substr(lit(3), length(p))
      when(h.isin(UnreservedHex: _*),
          concat(unhex(h).cast("string"), rest))
        .when(h.rlike("^[0-9A-F]{2}$"), concat(lit("%"), h, rest))
        .otherwise(concat(lit("%"), p))
    })
    concat(element_at(parts, 1), array_join(fixed, ""))
  }

  /** Percent-escapes in the HOST (r16 verdict watch item, decided and
    * fixture-proven by q272): step 0 runs on the whole URL, so an
    * unreserved triplet in a hostname DECODES (`h%41st` → `hAst`) and
    * then case-folds with the rest of the host (→ `hast`) — RFC 3986
    * reg-name allows pct-encoded, and host comparison is
    * case-insensitive, so decoding before the fold is safe. A
    * RESERVED-class triplet survives encoded, and the host case fold
    * then lowercases its hex (`%2F` → `%2f`) — deliberately NOT
    * re-uppercased: the §6.2.2.1 uppercase-hex form normalizes the URL
    * as written, but the canonical KEY folds the entire host, and both
    * hex spellings of the same byte still collide under the uniform
    * fold. Key-consistency is the tier-0 requirement; an RFC-pretty
    * host rendering is not a goal (the oracle lowercases identically,
    * so the decision is hash-checked, not latent). */
  def canonicalizeUrl(u: Column): Column = {
    val norm = normalizePercentEncoding(u)
    val noFrag = regexp_replace(norm, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)", 1))
    val host =
      when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
        .when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
        .otherwise(hostPort)
    val rest = regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$", 1)
    val path = regexp_extract(rest, "^([^?]*)", 1)
    val query = regexp_extract(rest, "\\?(.*)$", 1)
    val kept = filter(split(query, "&"),
      p => p =!= "" && !p.rlike(TrackingParam))
    val sortedQ = array_join(array_sort(kept), "&")
    concat(scheme, lit("://"), host,
      when(path === "", lit("/")).otherwise(path),
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ)))
  }

  /** Multi-label entries of the public suffix list (publicsuffix.org —
    * public data) this build ships: a curated SUBSET covering the
    * highest-traffic ccTLD second-level registries. The full list
    * (~10k entries, including wildcard `*.ck`-class and exception
    * `!www.ck`-class rules) is public and swaps in here unchanged at
    * deploy time — the matching below is list-driven and a 10k-entry
    * literal/broadcast is still a map-side projection. Single-label
    * TLDs need no entry: the PSL default rule (no match → the last
    * label is the public suffix) covers them. */
  val publicSuffixes: Seq[String] = Seq(
    // United Kingdom / Ireland
    "co.uk", "org.uk", "net.uk", "ac.uk", "gov.uk", "sch.uk", "nhs.uk",
    "me.uk", "ltd.uk", "plc.uk",
    // Australia / New Zealand
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au", "asn.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    // Japan / Korea / Greater China / SE Asia
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp",
    "co.kr", "or.kr", "ne.kr", "re.kr", "go.kr", "ac.kr",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.tw", "org.tw", "net.tw", "edu.tw", "gov.tw",
    "com.hk", "org.hk", "net.hk", "edu.hk", "gov.hk",
    "com.sg", "org.sg", "net.sg", "edu.sg", "gov.sg",
    "com.my", "org.my", "net.my", "edu.my", "gov.my",
    "co.id", "or.id", "ac.id", "go.id", "web.id", "sch.id",
    "co.th", "or.th", "ac.th", "go.th", "in.th",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph",
    // South Asia / Middle East / Africa
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in", "ac.in",
    "edu.in", "gov.in", "res.in",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk",
    "com.bd", "net.bd", "org.bd", "edu.bd", "gov.bd",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg",
    "com.tr", "net.tr", "org.tr", "edu.tr", "gov.tr", "gen.tr", "web.tr",
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il",
    "co.za", "org.za", "net.za", "ac.za", "gov.za", "web.za",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng",
    "co.ke", "or.ke", "ne.ke", "ac.ke", "go.ke",
    // Latin America
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "art.br", "blog.br",
    "com.mx", "net.mx", "org.mx", "edu.mx", "gob.mx",
    "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co",
    "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe",
    "com.ve", "net.ve", "org.ve", "co.ve", "gob.ve",
    "com.ec", "com.uy", "com.bo", "com.py", "com.gt", "com.do", "com.pa",
    "com.ni",
    // Europe (multi-label registries)
    "co.at", "or.at", "ac.at", "gv.at",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "com.pt", "edu.pt", "gov.pt", "org.pt", "net.pt",
    "com.gr", "edu.gr", "net.gr", "org.gr", "gov.gr",
    "com.ro", "org.ro", "nt.ro", "tm.ro",
    "com.ru", "net.ru", "org.ru", "edu.ru", "gov.ru", "msk.ru", "spb.ru",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "kiev.ua",
    // North America / misc
    "co.us", "com.mt", "com.cy", "com.lb", "com.jo", "com.kw", "com.qa",
    "com.om", "com.bh", "com.np", "com.lk", "com.kh", "com.mm", "com.fj")

  /** Wildcard PSL rule BASES this build ships — each models a `*.<base>`
    * entry of the public list (publicsuffix.org): EVERY label directly
    * under the base is itself a public suffix, so a registrable domain
    * under `*.ck` keeps THREE labels (`foo.anything.ck`). The 1-label
    * bases are the classic all-second-level ccTLD registries; the
    * 2-label bases are the Japanese city wildcards (`*.kawasaki.jp`
    * etc., each paired with a `!city.…` exception below). Same
    * swap-in-the-full-list stance as [[publicSuffixes]]. */
  val publicSuffixWildcards: Seq[String] = Seq(
    "bd", "ck", "er", "fk", "jm", "kh", "mm", "np", "pg",
    "kawasaki.jp", "kitakyushu.jp", "kobe.jp", "nagoya.jp",
    "sapporo.jp", "sendai.jp", "yokohama.jp")

  /** Exception PSL rules (`!<host>` entries): the named suffix is NOT a
    * public suffix despite a covering wildcard — per the PSL algorithm
    * the exception rule itself, as written, IS the registrable domain
    * (its public suffix is the rule minus the leftmost label). Exception
    * rules beat every other matching rule regardless of length. */
  val publicSuffixExceptions: Seq[String] = Seq(
    "www.ck",
    "city.kawasaki.jp", "city.kitakyushu.jp", "city.kobe.jp",
    "city.nagoya.jp", "city.sapporo.jp", "city.sendai.jp",
    "city.yokohama.jp")

  /** Registered (registrable) domain under the public-suffix list —
    * plain, WILDCARD, and EXCEPTION rules (publicsuffix.org semantics):
    *
    *  - exception rule `!e` matching the host's trailing labels →
    *    registrable = those |e| labels (`!www.ck`: `a.www.ck` → `www.ck`);
    *    exceptions beat every other rule;
    *  - wildcard base `w` (from `*.w`) matching the trailing |w| labels →
    *    public suffix = |w|+1 labels, registrable = |w|+2
    *    (`*.ck`: `www.foo.ck` → `www.foo.ck`… i.e. the last 3 labels); a
    *    host with exactly |w|+1 labels IS a public suffix → unchanged;
    *  - plain suffix entry → that suffix plus ONE label
    *    (`a.b.example.co.uk` → `example.co.uk`);
    *  - PSL default rule (nothing matches) → last label is the public
    *    suffix, registrable = last two (`a.b.example.com` →
    *    `example.com`).
    *
    * Rule precedence follows the PSL spec: exceptions first, then the
    * longest rule (a wildcard counts its `*`, so `*.kawasaki.jp` is a
    * 3-label rule and outranks 2-label plain entries). A host that IS a
    * public suffix, or has too few labels to carry a registrable part,
    * passes through unchanged. Host must be lowercase with the port
    * already stripped (feed it [[canonicalizeUrl]] output's host or a
    * bare lowercase host). */
  def registeredDomain(host: Column,
      suffixes: Seq[String] = publicSuffixes,
      wildcards: Seq[String] = publicSuffixWildcards,
      exceptions: Seq[String] = publicSuffixExceptions): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    def lastK(k: Int): Column =
      array_join(slice(labels, n - lit(k - 1), lit(k)), ".")
    def inList(k: Int, entries: Seq[String]): Column =
      array_contains(typedLit(entries), lastK(k))
    // (priority, condition, result) arms; built per label-count group so
    // each list literal stays one broadcast constant
    val excArms = exceptions.groupBy(_.count(_ == '.') + 1).toSeq
      .sortBy(-_._1).map { case (el, es) =>
        // registrable = the exception rule itself (= its |e| trailing
        // labels); valid whenever the host has at least |e| labels
        (n >= el && inList(el, es), lastK(el))
      }
    val ruleArms = (
      wildcards.groupBy(_.count(_ == '.') + 1).toSeq.map { case (wl, ws) =>
        // rule length |w|+1 ( the `*` counts); two sub-arms share it:
        // deep host → |w|+2 labels; host == public suffix → unchanged
        (wl + 1, Seq(
          (n >= wl + 2 && inList(wl, ws), lastK(wl + 2)),
          (n === wl + 1 && inList(wl, ws), host)))
      } ++
      suffixes.groupBy(_.count(_ == '.') + 1).toSeq.map { case (k, ss) =>
        // two sub-arms, mirroring the wildcard group: deep host → suffix
        // plus one label; host IS the suffix → unchanged (ADVICE r17:
        // without the pass-through arm a host equal to a 3+-label plain
        // rule fell to the default rule and truncated to its last two
        // labels; for the shipped 2-label entries the default coincided
        // by arithmetic, which is why no oracle-gated query moves)
        (k, Seq(
          (n >= k + 1 && inList(k, ss), lastK(k + 1)),
          (n === k && inList(k, ss), host)))
      })
      .sortBy(-_._1).flatMap(_._2)
    val default = when(n >= 2, lastK(2)).otherwise(host)
    (excArms ++ ruleArms).foldRight(default) { case ((cond, res), acc) =>
      when(cond, res).otherwise(acc)
    }
  }

  /** Parse rules in the publicsuffix.org FILE FORMAT (one rule per line;
    * `//` comment lines and blank lines ignored; `*.`-prefixed =
    * wildcard base; `!`-prefixed = exception; anything else = a plain
    * suffix — SINGLE-label plain entries are dropped because the PSL
    * default rule already yields the same registrable domain). Returns
    * `(plain, wildcards, exceptions)` ready to pass to
    * [[registeredDomain]], whose matching is fully general over label
    * counts — this makes the "full publicsuffix.org list swaps in
    * unchanged" stance EXECUTABLE, not just documented: read the file
    * with any line source, parse here, pass the three lists through.
    * Rules are lowercased; IDN labels must already be in punycode (the
    * published list carries the punycode spelling, which is what a
    * lowercase-ASCII host pipeline matches against). NOTE the ORACLE
    * CASE arms (Queries47.domCaseSql) are bounded to the SHIPPED subset
    * shapes by requires — swapping a larger list into an oracle-gated
    * query needs the matching arms, which is exactly what those
    * requires' messages say. */
  def parsePslRules(
      lines: Seq[String]): (Seq[String], Seq[String], Seq[String]) = {
    val rules = lines.iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("//"))
      .map(_.toLowerCase).toSeq
    val exceptions = rules.filter(_.startsWith("!")).map(_.drop(1))
    val wildcards = rules.filter(_.startsWith("*.")).map(_.drop(2))
    val plain = rules
      .filterNot(r => r.startsWith("!") || r.startsWith("*."))
      .filter(_.contains("."))
    (plain, wildcards, exceptions)
  }

  /** Host of an (already canonical) URL. */
  def urlHost(u: Column): Column =
    regexp_extract(u, "^[a-z][a-z0-9+.-]*://([^/?]*)", 1)
}
