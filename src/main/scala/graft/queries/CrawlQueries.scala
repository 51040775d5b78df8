package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.operators.Tuning

/** Crawl link analysis and scheduling — the WAT side of the round-12/13
  * crawl wing: outlink extraction + RFC 3986 resolution, the host-level
  * web graph, capture indexes, and fetch scheduling. The reference never
  * links (hand-typed URL list, `pipeline1.py:922`); a real crawl derives
  * its next 100 TB from exactly these operators.
  *
  * Extracted like every family; [[graft.SparkEntry]] concatenates the maps.
  */
private[graft] object CrawlQueries {

  /** Shared link fixture: per doc, a base URL on the doc's site and a page
    * whose anchors cover every §5.2.2 reference shape — absolute (messy
    * case + dup slashes), scheme-relative, path-absolute with an
    * `&amp;`-escaped multi-param query, relative with an unreserved
    * percent escape, parent-relative (`../`), query-only carrying a
    * tracking param, a SINGLE-QUOTED path-absolute and an UNQUOTED
    * relative href (the round-14 attribute forms — both same-host so the
    * q284 host-graph quotient is untouched), fragment-only,
    * and a non-hierarchical `mailto:` that resolution passes through and
    * the http(s) filter drops.
    *
    * Round 15 layers `<base href>` (WHATWG fallback-base order, the
    * round-14 verdict's top coverage gap): doc_id%4==1 pages declare an
    * ABSOLUTE base on another host — `basehost{m%3}.org` (keyed off `m`
    * so the q284 host-graph stays a corpus quotient; the
    * SELECTOR modulus is 4 because it must divide the clone's 10⁷ id
    * offset — per-copy counts of base-carrying docs must be EXACT for
    * the link-mass closure) — plus a SECOND `<base>` that must be
    * ignored (first-wins); doc_id%4==3 pages declare a RELATIVE base
    * (`/alt/dir/`), which itself resolves against the page URL first.
    * Every relative reference on those pages must resolve against the
    * effective base, not the page URL. The oracle rebuilds the SAME
    * page closed-form and replays base extraction, base resolution,
    * href extraction, and reference resolution with the identical RE2
    * patterns and CASE chains.
    */
  private def linkFixture(docs: DataFrame): DataFrame = {
    // the two-group regexp pass + per-href resolution downstream is
    // compute-bound: a small parquet arrives as ONE partition and AQE
    // never splits a compute-heavy stage, so spread it explicitly
    // (the q90 levenshtein lesson; fan-out is session-derived, round 16 —
    // 32 was a local-mode constant that over-tasked the 8-core run)
    val d = graft.operators.Tuning.spread(
      docs.select(col("doc_id"), pmod(col("doc_id"), lit(37)).as("m")),
      col("doc_id"))
    val k4 = pmod(col("doc_id"), lit(4))
    d.withColumn("base", concat(lit("https://site"), col("m"),
        lit(".com/a/b/page"), col("doc_id"), lit(".html")))
      .withColumn("html", concat(
        lit("<html>"),
        when(k4 === 1, concat(
          lit("<head><base href=\"https://basehost"), pmod(col("m"), lit(3)),
          lit(".org/bb/\"><base href=\"https://ignored.example/zz/\"></head>")))
          .when(k4 === 3, lit("<head><base href=\"/alt/dir/\"></head>"))
          .otherwise(lit("")),
        lit("<body><a href=\"https://Other"), pmod(col("doc_id"), lit(5)),
        lit(".ORG/x//y/\">read <b>doc</b> "), col("doc_id"),
        lit("</a><a href=\"//cdn"), pmod(col("doc_id"), lit(3)),
        lit(".net/lib.js\">cdn</a><a href=\"/root/"), col("doc_id"),
        lit("?b=2&amp;a=1\">rooted</a><a href=\"sub/p%7E"), col("doc_id"),
        lit(".html\">tilde rel</a><a href=\"../up"), col("doc_id"),
        lit("\">parent</a><a href=\"?v=2&amp;utm_source=z\">query only</a>" +
          "<a href='/q/"), col("doc_id"),
        lit("?s=2&amp;t=3'>squote</a><a href=nav/"), pmod(col("doc_id"), lit(5)),
        lit(".html>unq nav</a><a href=\"#sec\">frag</a><a href=\"mailto:u"),
        col("doc_id"),
        lit("@example.com\">mail</a></body></html>")))
  }

  /** Host-level link edges of [[linkFixture]] pages: (src_host, dst_host,
    * n_links), self-edges dropped. The host graph is a QUOTIENT of the
    * corpus (its edge set is bounded by host combinatorics, not document
    * count), which `CloneClosedFormSpec` pins on q284: the 3× clone keeps
    * the 1× hosts, degrees and ranks while the link mass scales ×c.
    */
  private[graft] def hostEdges(docs: DataFrame): DataFrame = {
    val fx = linkFixture(docs)
    // Tuning.once on eb/resolved (guide §4.4): without the barrier the
    // optimizer inlines the whole base-extraction + resolution regex chain
    // into the pushed filter AND each consuming projection — ~3 evaluations
    // per link row, each re-scanning the full page markup for <base>
    fx.select(col("m"),
        graft.operators.Tuning.once(graft.operators.LinkOps
          .effectiveBase(col("base"), col("html"))).as("eb"),
        explode(graft.operators.LinkOps.extractHrefs(col("html"))).as("href"))
      .withColumn("resolved",
        graft.operators.Tuning.once(graft.operators.LinkOps
          .resolveReference(col("eb"), col("href"))))
      .filter(col("resolved").rlike("^https?://"))
      .select(concat(lit("site"), col("m"), lit(".com")).as("src_host"),
        lower(regexp_extract(col("resolved"), "^[a-z]+://([^:/?]*)", 1))
          .as("dst_host"))
      .filter(col("src_host") =!= col("dst_host"))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Outlink extraction + RFC 3986 resolution ([[graft.operators
    // .LinkOps]]) — the WAT step: `<a href>` values (attribute entities
    // decoded, `&amp;` LAST) and their anchor texts come out of the markup
    // as one scan-side regexp pass, each ref resolves against the page's
    // own URL through the §5.2.2 CASE chain (absolute / `//authority` /
    // path-absolute / empty / query-only / relative-merge), non-http(s)
    // schemes drop AFTER resolution (mailto: resolves to itself per the
    // RFC), and the result canonicalizes through q275's full RFC 3986
    // form — merge-introduced `../` pops in §5.2.4, the fixture's `%7E`
    // decodes as unreserved, tracking params vanish, queries sort. The
    // oracle replays every step generically in DuckDB from the same
    // rebuilt page.
    "q283_link_extraction" -> ((s, dir) => {
      import s.implicits._
      val fx = linkFixture(t(s, dir, "documents"))
      val pairs = zip_with(
        graft.operators.LinkOps.extractHrefs($"html"),
        graft.operators.LinkOps.extractAnchorTexts($"html"),
        (h, a) => struct(h.as("href"), a.as("anchor")))
      // Tuning.once barriers (guide §4.4): eb evaluates once per PAGE and
      // resolved once per LINK — round 15's plan showed both chains
      // re-inlined into the pushed filter and every output projection
      fx.select($"doc_id",
          graft.operators.Tuning.once(
            graft.operators.LinkOps.effectiveBase($"base", $"html")).as("eb"),
          posexplode(pairs))
        .select($"doc_id", ($"pos" + 1).cast("long").as("link_no"),
          graft.operators.Tuning.once(
            graft.operators.LinkOps.resolveReference($"eb", $"col.href"))
            .as("resolved"),
          $"col.anchor".as("anchor"))
        .filter($"resolved".rlike("^https?://"))
        .select($"doc_id", $"link_no",
          graft.operators.UrlOps.canonicalizeUrlFull($"resolved").as("url"),
          $"anchor")
        // sortShield: the range exchange's sample pass re-executes its
        // child, which would run the whole extract+resolve+canonicalize
        // chain twice (no exchange between the compute and the sort)
        .transform(d => graft.operators.Tuning.sortShield(d, $"doc_id"))
        .orderBy($"doc_id", $"link_no")
    }),


    // Host-level web graph + centrality — what a crawler RANKS with: the
    // q283 links collapse to (src_host, dst_host) edges (self-edges out —
    // intra-site links are navigation, not endorsement), directed
    // in/out-degrees and link multiplicities aggregate per host, and the
    // host centrality comes from [[graft.operators.PageRank.ranks]] over
    // the distinct undirected pair list (ppm integer arithmetic, 3
    // iterations — the q108 operator on the crawl's host graph instead of
    // the dedup pair graph). Host graphs are tiny relative to the corpus
    // (nodes = sites, not pages), so the rank joins ride the broadcast
    // path; the edge aggregation is the only corpus-sized shuffle. The
    // oracle replays the link chain, the degree aggregation, and all
    // three rank rounds.
    "q284_host_graph" -> ((s, dir) => {
      import s.implicits._
      val edges = Tuning.cut(hostEdges(t(s, dir, "documents"))) // degree aggs + pair list all read it
      val pairs = edges.select(
        least($"src_host", $"dst_host").as("a"),
        greatest($"src_host", $"dst_host").as("b")).distinct()
      val ranks = graft.operators.PageRank.ranks(pairs, "a", "b", iters = 3)
      val outd = edges.groupBy($"src_host")
        .agg(count(lit(1)).as("out_deg"), sum($"n_links").as("n_out_links"))
        .withColumnRenamed("src_host", "host")
      val ind = edges.groupBy($"dst_host")
        .agg(count(lit(1)).as("in_deg"), sum($"n_links").as("n_in_links"))
        .withColumnRenamed("dst_host", "host")
      ranks.select($"id".as("host"), $"deg", $"rank_u")
        .join(broadcast(outd), Seq("host"), "left")
        .join(broadcast(ind), Seq("host"), "left")
        .select($"host",
          coalesce($"out_deg", lit(0L)).as("out_deg"),
          coalesce($"in_deg", lit(0L)).as("in_deg"),
          coalesce($"n_out_links", lit(0L)).as("n_out_links"),
          coalesce($"n_in_links", lit(0L)).as("n_in_links"),
          $"deg", $"rank_u")
        .orderBy($"host")
    }),


    // CDX-J capture index + latest-capture selection ([[graft.operators
    // .CdxOps]]) — the archive's lookup layer: every page gets 1-3
    // primary captures (timestamps closed-form in doc_id and capture
    // number, lexicographically chronological), every doc_id % 4 = 0 page
    // ALSO recaptured under its `www.` alias — the alias the SURT key
    // collapses and URL-string dedup cannot. Lines build by
    // concatenation, round-trip through the regexp + typed-JSON parse,
    // and reduce to one `max_by(…, ts)` row per urlkey (captures,
    // distinct content versions via the digest, latest
    // ts/status/digest/length). The oracle replays the build, the PARSE
    // (its own regexp split + JSON ->> extraction), and the arg_max
    // election.
    "q285_cdx_latest_capture" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").transform(graft.operators.Tuning.spreadDocs)
        .select($"doc_id", $"text", $"n_chars",
          pmod($"doc_id", lit(37)).as("m"))
      val prim = docs
        .withColumn("j", explode(sequence(lit(0), pmod($"doc_id", lit(3)).cast("int"))))
        .withColumn("host", concat(lit("site"), $"m", lit(".com")))
      val alias = docs.filter(pmod($"doc_id", lit(4)) === 0)
        .withColumn("j", lit(9))
        .withColumn("host", concat(lit("www.site"), $"m", lit(".com")))
      val lines = prim.unionByName(alias)
        .withColumn("canon", graft.operators.UrlOps.canonicalizeUrl(
          concat(lit("https://"), $"host", lit("/p/"), $"doc_id")))
        .withColumn("ts14", concat(lit("2025"),
          lpad((pmod($"doc_id" + $"j", lit(12)) + 1).cast("string"), 2, "0"),
          lpad((pmod($"doc_id" * 7 + $"j" * 3, lit(28)) + 1).cast("string"), 2, "0"),
          lpad(pmod($"j" * 5, lit(24)).cast("string"), 2, "0"), lit("0000")))
        .withColumn("digest", substring(
          md5(concat($"text", lit("|"), expr("(j+1) div 2").cast("string"))), 1, 16))
        .withColumn("status", when($"j" === 2, 301).otherwise(200).cast("int"))
        .withColumn("length", ($"n_chars" + $"j").cast("long"))
        .select(graft.operators.CdxOps.cdxjLine(
          graft.operators.CdxOps.surtKey($"canon"), $"ts14", $"canon",
          lit("text/html"), $"status", $"digest", $"length").as("line"))
      lines.select(graft.operators.CdxOps.parseCdxj($"line").as("p"))
        .select($"p.urlkey".as("urlkey"), $"p.ts".as("ts"),
          $"p.meta.status".as("status"), $"p.meta.digest".as("digest"),
          $"p.meta.length".as("length"))
        .groupBy($"urlkey")
        .agg(count(lit(1)).as("n_captures"),
          countDistinct($"digest").as("n_versions"),
          max($"ts").as("latest_ts"),
          max_by($"status", $"ts").as("latest_status"),
          max_by($"digest", $"ts").as("latest_digest"),
          max_by($"length", $"ts").as("latest_length"))
        .orderBy($"urlkey")
    }),


    // MIME sniff vs declared Content-Type ([[graft.operators.MimeSniff]],
    // WHATWG §6 magic table + §7.1 tag scan + §4 binary-byte fallback):
    // ten payload classes with REAL magic bytes (PDF, PNG, JPEG, GIF89a,
    // zip, gzip, whitespace-prefixed `<!doctype html`, RIFF/WAVE, plain
    // text, and a NUL-led binary), three of them deliberately served
    // under lying Content-Type headers (gif as png, gzip as html, binary
    // as text — the three commonest corpus lies). The census groups by
    // (sniffed, declared): the routing diagnostic a 100 TB pipeline runs
    // before ANY payload decode. Bytes never leave their scan task; only
    // the census shuffles. The oracle derives both types closed-form from
    // the class index and replays the census (the bytes themselves are
    // Spark-built; the sniff is pinned against the expected class — a
    // wrong magic row or a binary-check hole flips the group).
    "q286_mime_sniff" -> ((s, dir) => {
      import s.implicits._
      val k = pmod($"doc_id", lit(10))
      val txt = encode(regexp_replace($"text", "[^ -~]", ""), "UTF-8")
      val payload = when(k === 0, concat(unhex(lit("255044462D312E34")), txt))
        .when(k === 1, concat(unhex(lit("89504E470D0A1A0A")), txt))
        .when(k === 2, concat(unhex(lit("FFD8FFE0")), txt))
        .when(k === 3, concat(encode(lit("GIF89a"), "UTF-8"), txt))
        .when(k === 4, concat(unhex(lit("504B0304")), txt))
        .when(k === 5, concat(unhex(lit("1F8B08")), txt))
        .when(k === 6, concat(encode(lit("  <!doctype html><p>"), "UTF-8"), txt))
        .when(k === 7, concat(encode(lit("RIFF"), "UTF-8"), unhex(lit("24000000")),
          encode(lit("WAVE"), "UTF-8"), txt))
        .when(k === 8, concat(encode(lit("plain: "), "UTF-8"), txt))
        .otherwise(concat(unhex(lit("00FF00FF")), txt))
      val declared = when(k === 0, "application/pdf")
        .when(k === 1, "image/png")
        .when(k === 2, "image/jpeg")
        .when(k === 3, "image/png") // lie: gif served as png
        .when(k === 4, "application/zip")
        .when(k === 5, "text/html") // lie: gzip served as html
        .when(k === 6, "text/html")
        .when(k === 7, "audio/wav")
        .when(k === 8, "text/plain")
        .otherwise("text/plain") // lie: binary served as text
      t(s, dir, "documents")
        .select($"doc_id",
          graft.operators.MimeSniff.sniffMime(payload).as("sniffed_mime"),
          declared.as("declared_mime"))
        .groupBy($"sniffed_mime", $"declared_mime")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"))
        .withColumn("is_match", ($"sniffed_mime" === $"declared_mime").cast("int"))
        .orderBy($"sniffed_mime", $"declared_mime")
    }),


    // Mojibake repair ([[org.apache.spark.sql.graft.expressions
    // .MojibakeRepair]], the ftfy inverse): UTF-8-decoded-as-cp1252
    // damage — single ("cafÃ©", "â€”"-style em dashes, "Ã¼") AND double
    // ("ÃƒÂ©") — unwinds by re-encoding to windows-1252 and strictly
    // re-decoding as UTF-8, iterated to fixpoint; pure ASCII and GENUINE
    // Latin text ("café naïve", whose cp1252 bytes are invalid UTF-8)
    // pass through untouched — the round-trip guard that makes the
    // repair safe to run corpus-wide. Scan-side native Expression
    // (SQL-registered as `mojibake_repair`); the oracle states the
    // expected repaired text closed-form per damage class — one
    // over-eager or missed repair flips the md5.
    "q287_mojibake_repair" -> ((s, dir) => {
      import s.implicits._
      val k = pmod($"doc_id", lit(5))
      val input = concat(regexp_replace($"text", "[^ -~]", ""),
        when(k === 1, " cafÃ© â€” ok")
          .when(k === 2, " Ã¼ber â€™qâ€™")
          .when(k === 3, " cafÃƒÂ©")
          .when(k === 4, " café naïve")
          .otherwise(""))
      val fixed = org.apache.spark.sql.graft.Bridge.toColumn(
        org.apache.spark.sql.graft.expressions.MojibakeRepair(
          org.apache.spark.sql.graft.Bridge.toExpr(input)))
      t(s, dir, "documents")
        .select($"doc_id", fixed.as("fixed"), (fixed =!= input).cast("int").as("changed"))
        .select($"doc_id", $"changed",
          length($"fixed").cast("long").as("n_chars_out"),
          md5($"fixed").as("fixed_md5"))
        .orderBy($"doc_id")
    }),


    // Hashed linear quality classifier — fastText-architecture INFERENCE
    // (Joulin'16: bag of unigram+bigram features → hashing trick →
    // linear score), the shape of every production quality/language
    // filter at corpus scale (CCNet, RefinedWeb). Features hash through
    // md5 into 4096 buckets whose weights are a closed-form integer
    // function of the bucket (a deployment swaps in trained weights —
    // same plan), and the WHOLE scorer is one scan-side
    // `aggregate(features, 0, acc + w(bucket(x)))` higher-order
    // expression: no explode, no weights join, ZERO shuffle — the 100 TB
    // form of "apply a linear model to every document". The oracle
    // replays tokenization, bigram construction, bucketing, weights, and
    // the integer sum.
    "q288_hashed_classifier" -> ((s, dir) => {
      import s.implicits._
      val tk = graft.operators.TextAnalysis.tokensCol($"text")
      val bigrams = zip_with(slice(tk, lit(1), greatest(size(tk) - 1, lit(0))),
        slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (a, b) => concat(a, lit("_"), b))
      val feats = concat(tk, bigrams)
      val score = aggregate(feats, lit(0L), (acc, x) => {
        val b = conv(substring(md5(x), 1, 8), 16, 10).cast("long") % 4096
        acc + ((b * 2654435761L) % 2003 - 1001)
      })
      // per-feature md5 is compute-bound: spread the 1-partition scan
      t(s, dir, "documents").transform(graft.operators.Tuning.spreadDocs)
        .select($"doc_id", $"source",
          size(feats).cast("long").as("n_feat"),
          score.as("score_u"))
        .withColumn("keep", ($"score_u" > 0).cast("int"))
        .orderBy($"doc_id")
    }),


    // Politeness-aware frontier scheduling — the crawl's LAST step before
    // fetch: candidate URLs gate through q278's robots evaluation
    // ([[graft.operators.RobotsTxt]], RFC 9309 longest-match), then each
    // registrable domain's survivors rank by (priority DESC, doc_id)
    // into FETCH WAVES — wave w holds each domain's w-th URL, so any
    // per-wave executor pool hits every host at most once per wave (the
    // standard one-connection-per-host politeness budget). The rank
    // rides [[graft.operators.Batching.groupedRowNumber]] (range
    // exchange + span join, NO per-domain window sort) because domains
    // are the heaviest-skew key a crawl has. The oracle replays robots
    // AND the wave assignment (a window is fine at oracle scale).
    "q289_frontier_schedule" -> ((s, dir) => {
      import s.implicits._
      val urls = t(s, dir, "documents").select($"doc_id")
        .withColumn("m", pmod($"doc_id", lit(37)))
        .withColumn("domain", concat(lit("site"), $"m", lit(".com")))
        .withColumn("path",
          when(pmod($"doc_id", lit(5)) === 0, concat(lit("/p/"), $"doc_id"))
            .when(pmod($"doc_id", lit(5)) === 1, concat(lit("/private/a"), $"doc_id"))
            .when(pmod($"doc_id", lit(5)) === 2, concat(lit("/private/ok/"), $"doc_id"))
            .when(pmod($"doc_id", lit(5)) === 3, lit("/tmp/x"))
            .otherwise(lit("/dup/z")))
        .withColumn("priority", pmod($"doc_id" * 37 + 11, lit(100)).cast("long"))
      val robots = urls.select($"domain", $"m").distinct()
        .withColumn("txt", concat(
          lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
            "Disallow: /tmp\nDisallow: /dup\nAllow: /dup\n"),
          when(pmod($"m", lit(3)) === 0,
            lit("\nUser-agent: graftbot\nDisallow: /p/9\nAllow: /p\n"))
            .otherwise(lit(""))))
      val rules = graft.operators.RobotsTxt.ruleRows(robots, "domain", "txt")
      val ok = graft.operators.RobotsTxt
        .allowed(urls, rules, "domain", "path", "graftbot",
          groups = Some(graft.operators.RobotsTxt
            .agentGroupRows(robots, "domain", "txt")))
        .filter($"allowed" === 1)
        .select($"doc_id", $"domain", $"path", $"priority")
      graft.operators.Batching.groupedRowNumber(
          ok, Seq("domain"), Seq(col("priority").desc, col("doc_id")),
          numPartitions = 32, out = "wave")
        .select($"doc_id", $"domain", $"priority", $"wave")
        .orderBy($"doc_id")
    }),


    // Anchor-text aggregation per link target — the retrieval signal web
    // search has used since DEC AltaVista: what OTHER pages call a URL
    // describes it better than its own content (and is the only text a
    // never-fetched frontier URL has). The q283 chain's (target url,
    // anchor) pairs aggregate per target: reference count, distinct
    // referring domains (the "independent sources" weight), and the
    // modal anchor elected by a `max(struct(count, anchor))` argmax —
    // one (url, anchor)-keyed aggregate then one url-keyed aggregate,
    // both hash shuffles of id-sized rows (anchors, never pages). The
    // oracle replays the link chain and both aggregations.
    "q290_anchor_aggregation" -> ((s, dir) => {
      import s.implicits._
      val fx = linkFixture(t(s, dir, "documents"))
      val pairs = zip_with(
        graft.operators.LinkOps.extractHrefs($"html"),
        graft.operators.LinkOps.extractAnchorTexts($"html"),
        (h, a) => struct(h.as("href"), a.as("anchor")))
      // Tuning.once barriers (guide §4.4) — same duplication fix as q283
      val links = fx.select($"m",
          graft.operators.Tuning.once(
            graft.operators.LinkOps.effectiveBase($"base", $"html")).as("eb"),
          explode(pairs).as("p"))
        .withColumn("resolved",
          graft.operators.Tuning.once(
            graft.operators.LinkOps.resolveReference($"eb", $"p.href")))
        .filter($"resolved".rlike("^https?://"))
        .select(
          graft.operators.UrlOps.canonicalizeUrlFull($"resolved").as("url"),
          concat(lit("site"), $"m", lit(".com")).as("src_domain"),
          $"p.anchor".as("anchor"))
      // ONE corpus pass: the (url, anchor, src_domain) rollup is tiny and
      // both downstream aggregates read it — cut so the regexp
      // chain never re-runs per branch
      val rollup = Tuning.cut(links.groupBy($"url", $"anchor", $"src_domain")
        .agg(count(lit(1)).as("n")))
      val perAnchor = rollup.groupBy($"url", $"anchor")
        .agg(sum($"n").cast("long").as("n"))
      perAnchor.groupBy($"url")
        .agg(sum($"n").cast("long").as("n_refs"),
          max(struct($"n", $"anchor")).as("top"),
          countDistinct($"anchor").as("n_anchors"))
        .join(
          rollup.groupBy($"url")
            .agg(countDistinct($"src_domain").as("n_src_domains")),
          Seq("url"))
        .select($"url", $"n_refs", $"n_src_domains", $"n_anchors",
          $"top.anchor".as("top_anchor"), $"top.n".as("top_anchor_n"))
        .orderBy($"url")
    }),


    // Recrawl planning from the capture index — the freshness estimator
    // of Cho & Garcia-Molina (VLDB'00): a page's change rate is estimated
    // from its OWN capture history (distinct content versions over
    // observation count, here in exact ppm), and refetch priority follows
    // the estimate instead of a uniform revisit period — the policy that
    // stops a 100 TB crawler re-fetching the static 90% of the web daily.
    // Runs entirely on q285's index rows (~1/1000th the corpus, the whole
    // point of planning from the CDX): per urlkey, change_ppm =
    // (versions-1)/(captures-1), error-latches (non-200 latest capture)
    // jump the queue, and the registrable domain re-derives FROM the SURT
    // key by reversing it. The oracle replays estimator, election, and
    // key reversal.
    "q291_recrawl_planner" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").transform(graft.operators.Tuning.spreadDocs)
        .select($"doc_id", $"text", $"n_chars",
          pmod($"doc_id", lit(37)).as("m"))
      val prim = docs
        .withColumn("j", explode(sequence(lit(0), pmod($"doc_id", lit(3)).cast("int"))))
        .withColumn("host", concat(lit("site"), $"m", lit(".com")))
      val alias = docs.filter(pmod($"doc_id", lit(4)) === 0)
        .withColumn("j", lit(9))
        .withColumn("host", concat(lit("www.site"), $"m", lit(".com")))
      val caps = prim.unionByName(alias)
        .withColumn("urlkey", graft.operators.CdxOps.surtKey(
          graft.operators.UrlOps.canonicalizeUrl(
            concat(lit("https://"), $"host", lit("/p/"), $"doc_id"))))
        .withColumn("ts14", concat(lit("2025"),
          lpad((pmod($"doc_id" + $"j", lit(12)) + 1).cast("string"), 2, "0"),
          lpad((pmod($"doc_id" * 7 + $"j" * 3, lit(28)) + 1).cast("string"), 2, "0"),
          lpad(pmod($"j" * 5, lit(24)).cast("string"), 2, "0"), lit("0000")))
        .withColumn("digest", substring(
          md5(concat($"text", lit("|"), expr("(j+1) div 2").cast("string"))), 1, 16))
        .withColumn("status", when($"j" === 2, 301).otherwise(200).cast("int"))
      val idx = caps.groupBy($"urlkey")
        .agg(count(lit(1)).as("n_captures"),
          countDistinct($"digest").as("n_versions"),
          max_by($"status", $"ts14").as("latest_status"))
      idx
        .withColumn("change_ppm",
          expr("((n_versions - 1) * 1000000) div greatest(n_captures - 1, 1)"))
        .withColumn("priority_u",
          $"change_ppm" + when($"latest_status" =!= 200, 500000L).otherwise(0L))
        .withColumn("domain", array_join(reverse(split(
          regexp_extract($"urlkey", "^([^)]*)\\)", 1), ",")), "."))
        .withColumn("refetch", ($"priority_u" >= 300000L).cast("int"))
        .select($"urlkey", $"domain", $"n_captures", $"n_versions",
          $"latest_status", $"change_ppm", $"priority_u", $"refetch")
        .orderBy($"urlkey")
    }),


    // Dedup-aware archive writing — WARC `revisit` records (WARC/1.1
    // §6.7.2, identical-payload-digest profile), the WRITE side of
    // q280's content-identity collapse and the largest storage saving a
    // real archive makes: the canonical copy of each payload (elected
    // relationally, min-URL per sha-256) stores a full response record;
    // every mirror/duplicate stores a headers-only revisit record whose
    // WARC-Payload-Digest points at the canonical. The blobs are RE-READ
    // by the same record walk ([[graft.sources.WarcReader.records]], now
    // surfacing `payload_digest`), and every revisit must resolve to a
    // stored response by one digest equi-join. The oracle replays the
    // election and the census closed-form (gzip framing is not
    // replayable in SQL; byte counts and digests pin the walk).
    "q292_warc_revisit_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"text")
      val page = concat(lit("<html><body><p>"), $"text", lit("</p></body></html>"))
      val primary = docs.select($"doc_id",
        concat(lit("https://site"), pmod($"doc_id", lit(37)),
          lit(".com/p/"), $"doc_id").as("url"), page.as("body"))
      val mirrors = docs.filter(pmod($"doc_id", lit(11)) === 0)
        .select($"doc_id", concat(lit("https://mirror"), pmod($"doc_id", lit(7)),
          lit(".net/m/"), $"doc_id").as("url"), page.as("body"))
      val pages = primary.unionByName(mirrors)
        .withColumn("digest", sha2($"body", 256))
        .withColumn("shard", pmod($"doc_id", lit(8)))
      val canon = pages.groupBy($"digest").agg(min($"url").as("curl"))
      val flagged = pages.join(canon, Seq("digest"))
        .withColumn("canonical", ($"url" === $"curl").cast("int"))
      val warcs = graft.sources.WarcReader.buildWithRevisits(
        flagged, "shard", "url", "body", "canonical")
      // round 16: through the DSv2 `warc` table (q273's routing) so the
      // record walk prunes to the consumed columns; the checkpoint holds
      // (type, digest, payload length)-sized rows for the two consumers
      val recs = Tuning.cut(graft.sources.WarcReader.viaTable(s, warcs, "warc",
          "q292-" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
        .filter($"warc_type" =!= "warcinfo")
        .select($"warc_type", $"payload_digest",
          length($"payload").cast("long").as("payload_len"))) // census + resolution join both read it
      val responses = recs.filter($"warc_type" === "response")
        .select($"payload_digest".as("rd")).distinct()
      recs.groupBy($"warc_type")
        .agg(count(lit(1)).as("n_records"),
          sum($"payload_len").cast("long").as("payload_bytes"))
        .join(
          recs.filter($"warc_type" === "revisit")
            .join(responses, $"payload_digest" === $"rd")
            .groupBy($"warc_type").agg(count(lit(1)).as("n_digest_resolved")),
          Seq("warc_type"), "left")
        .select($"warc_type", $"n_records", $"payload_bytes",
          coalesce($"n_digest_resolved", lit(0L)).as("n_digest_resolved"))
        .orderBy($"warc_type")
    }),


    // HTTP/1.1 chunked transfer-coding decode ([[org.apache.spark.sql
    // .graft.expressions.HttpDechunk]], RFC 9112 §7.1) — the framing a
    // large share of archived payloads still wear INSIDE their WARC
    // response block; without this step, text extraction sees hex size
    // lines spliced into the markup. Each doc's body is chunk-framed
    // closed-form (10/20/rest split, hex sizes, a chunk-extension class,
    // a trailer-field class, and a TRUNCATED class with no terminator
    // that must return NULL, not a partial body); the oracle states the
    // expected decode per class — body md5 equality proves the decoder
    // reassembles the exact original bytes.
    "q293_http_dechunk" -> ((s, dir) => {
      import s.implicits._
      val k = pmod($"doc_id", lit(7))
      val txt = concat(lit("chunked-body: "), regexp_replace($"text", "[^ -~]", ""))
      val p1 = substring(txt, 1, 10)
      val p2 = substring(txt, 11, 20)
      val p3 = substring(txt, 31, 1000000)
      def hx(c: Column) = lower(conv(length(c).cast("string"), 10, 16))
      val crlf = lit("\r\n")
      val ext = when(k === 1, lit(";x=1")).otherwise(lit(""))
      val chunk3 = when(length(p3) > 0, concat(hx(p3), crlf, p3, crlf))
        .otherwise(lit(""))
      val trailer = when(k === 2, concat(lit("x-meta: 1"), crlf)).otherwise(lit(""))
      val framed = when(k === 0,
        concat(hx(p1), ext, crlf, p1, crlf)) // truncated: no terminator
        .otherwise(concat(hx(p1), ext, crlf, p1, crlf, hx(p2), crlf, p2, crlf,
          chunk3, lit("0"), crlf, trailer, crlf))
      val dec = org.apache.spark.sql.graft.Bridge.toColumn(
        org.apache.spark.sql.graft.expressions.HttpDechunk(
          org.apache.spark.sql.graft.Bridge.toExpr(encode(framed, "UTF-8"))))
      t(s, dir, "documents").select($"doc_id",
          when(dec.isNull, 0).otherwise(1).as("decode_ok"),
          coalesce(length(dec), lit(0)).cast("long").as("n_bytes"),
          coalesce(md5(dec), lit("")).as("body_md5"))
        .orderBy($"doc_id")
    }),


    // URL spam filtering under a token lexicon ([[graft.operators.UrlOps
    // .urlSpamClass]]) — the UT1-blocklist gate RefinedWeb/FineWeb run
    // FIRST, before any fetch, on ~100-byte rows: boundary-aware token
    // matching over the lowercased URL (a `/casino/` segment fires, the
    // token inside `maxxx123` does NOT — the false-positive class naive
    // substring filters are notorious for). Census per fired class; the
    // oracle replays the SAME boundary-regex CASE chain generically.
    "q294_url_spam_filter" -> ((s, dir) => {
      import s.implicits._
      val k = pmod($"doc_id", lit(6))
      val m = pmod($"doc_id", lit(37))
      val url = when(k === 0, concat(lit("https://site"), m, lit(".com/article/"), $"doc_id"))
        .when(k === 1, concat(lit("https://site"), m, lit(".com/casino/win"), $"doc_id"))
        .when(k === 2, concat(lit("https://site"), m, lit(".com/shop/viagra-"), $"doc_id"))
        .when(k === 3, concat(lit("https://site"), m, lit(".com/xxx/"), $"doc_id"))
        .when(k === 4, concat(lit("https://site"), m, lit(".com/blog/maxxx"), $"doc_id"))
        .otherwise(concat(lit("https://poker.site"), m, lit(".com/t/"), $"doc_id"))
      t(s, dir, "documents")
        .select($"doc_id", graft.operators.UrlOps.urlSpamClass(url,
          Seq("casino", "viagra", "xxx", "poker")).as("spam_class"))
        .groupBy($"spam_class")
        .agg(count(lit(1)).as("n_urls"), min($"doc_id").as("first_doc"))
        .withColumn("is_spam", ($"spam_class" =!= "clean").cast("int"))
        .orderBy($"spam_class")
    }),


    // Domain-level quality prior — the smoothing layer production
    // curation puts OVER per-document classifiers (DCLM/FineWeb domain
    // priors): a document from a domain whose other documents score well
    // is rescued even when its own score is marginal. The q288 scorer's
    // keep decisions aggregate per registrable domain with Laplace
    // smoothing — prior_ppm = (keeps + 1)·10⁶ div (n + 2), exact integer
    // math — and join back per doc as a BROADCAST (the domain table is
    // corpus-quotient-sized, like q284's host graph). The oracle replays
    // scorer, smoothing, and the rescue rule.
    "q295_domain_prior" -> ((s, dir) => {
      import s.implicits._
      val tk = graft.operators.TextAnalysis.tokensCol($"text")
      val bigrams = zip_with(slice(tk, lit(1), greatest(size(tk) - 1, lit(0))),
        slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (a, b) => concat(a, lit("_"), b))
      val feats = concat(tk, bigrams)
      val score = aggregate(feats, lit(0L), (acc, x) => {
        val b = conv(substring(md5(x), 1, 8), 16, 10).cast("long") % 4096
        acc + ((b * 2654435761L) % 2003 - 1001)
      })
      // round 14: the prior key is the PSL registrable domain of a real
      // subdomained host — multi-label suffixes included, so the
      // heuristic's co.jp collapse can never pool unrelated sites' keeps.
      // Round 15: the m%5==4 sites sit under the `*.ck` WILDCARD, where
      // every subdomain is an independent registrable domain — their
      // priors must accumulate per-subdomain, never pooled per site
      val tlds = array(lit("com"), lit("co.jp"), lit("com.au"), lit("co.uk"),
        lit("ck"))
      val prefixes = array(lit(""), lit("www."), lit("blog."))
      val host = concat(
        element_at(prefixes, (pmod($"doc_id", lit(3)) + 1).cast("int")),
        lit("site"), pmod($"doc_id", lit(37)), lit("."),
        element_at(tlds, (pmod(pmod($"doc_id", lit(37)), lit(5)) + 1).cast("int")))
      val scored = Tuning.cut(t(s, dir, "documents").transform(graft.operators.Tuning.spreadDocs)
        .select($"doc_id",
          graft.operators.UrlOps.registrableDomainPsl(
            host, graft.operators.UrlOps.pslSnapshot).as("domain"),
          (score > 0).cast("int").as("keep"))) // the prior agg and the join-back both read it
      val prior = scored.groupBy($"domain")
        .agg(count(lit(1)).as("n_docs"), sum($"keep").as("n_keep"))
        .withColumn("prior_ppm",
          expr("((n_keep + 1) * 1000000) div (n_docs + 2)"))
      scored.join(broadcast(prior), Seq("domain"))
        .withColumn("final_keep",
          ($"keep" === 1 || $"prior_ppm" >= 700000L).cast("int"))
        .select($"doc_id", $"domain", $"keep", $"prior_ppm", $"final_keep")
        .orderBy($"doc_id")
    }),


    // Chunked WARC ingest, end-to-end — q273's chain over an archive
    // whose 200-responses are CHUNK-FRAMED (Transfer-Encoding: chunked,
    // hex sizes, a chunk extension, a trailer field): WARC stores the
    // message as sent, so the record walk's HTTP split now dechunks
    // inline ([[org.apache.spark.sql.graft.expressions.HttpDechunk]]
    // shared walker, raw-body fallback on broken framing) and must hand
    // the extractor EXACTLY the bytes the Content-Length fixture would
    // — the oracle is q273's, byte-for-byte: one spliced size line,
    // swallowed trailer, or off-by-one chunk boundary flips every
    // md5 downstream.
    "q296_warc_chunked_ingest" -> ((s, dir) => {
      import s.implicits._
      // round 15: through the DSv2 `warc` table (file write + pruned scan)
      val warcs = graft.sources.WarcReader.buildChunkedFixture(t(s, dir, "documents"))
      val recs = graft.sources.WarcReader.viaTable(s, warcs, "warc",
        "q296-" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
      val isHtml = $"content_type".startsWith("text/html")
      recs.filter($"warc_type" === "response")
        .withColumn("canon_url",
          graft.operators.UrlOps.canonicalizeUrl($"target_uri"))
        .withColumn("body", decode($"payload", "UTF-8"))
        .withColumn("vis", when(isHtml,
          graft.operators.HtmlOps.visibleText($"body")).otherwise(""))
        .select($"canon_url",
          $"http_status".cast("long").as("http_status"),
          $"content_type",
          length($"payload").cast("long").as("payload_n_bytes"),
          when(isHtml, graft.operators.HtmlOps.htmlTitle($"body"))
            .otherwise("").as("title"),
          length($"vis").cast("long").as("vis_n_chars"),
          when(isHtml, md5($"vis")).otherwise("").as("vis_md5"))
        .orderBy($"canon_url")
    }),


    // Crawl-trap detection — the frontier defense every real crawler
    // needs (calendar pages, session-id echoes, faceted-search
    // explosions: infinite URL spaces serving near-identical content).
    // Per registrable domain, three exact integer signals: distinct
    // URLs per distinct CONTENT digest (×1000 — the trap's defining
    // ratio: URL space grows, content doesn't), mean query-param count
    // (milli-units), and mean path depth (milli-units); a domain flags
    // when url_per_content ≥ 3000 AND params ≥ 2000 mu. The fixture
    // plants traps on doc_id%37 ∈ {5, 11}: five session-id/page-param
    // variants per doc, all serving the SAME body. One domain-keyed
    // aggregate over URL-sized rows; content identity rides the digest,
    // never the text. The oracle replays signals and threshold.
    "q297_trap_detection" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select($"doc_id", $"text", pmod($"doc_id", lit(37)).as("m"))
      val isTrap = $"m" === 5 || $"m" === 11
      // round 14: trap keys are PSL registrable domains of subdomained
      // hosts (multi-label suffixes included) — a trap hiding behind
      // rotating `www.`/`m.` subdomains on a co.jp site must still
      // aggregate onto ONE domain row. Round 15: the m%5==4 sites sit
      // under the `*.ck` WILDCARD — each subdomain is its own
      // registrable domain, so their signals aggregate per-subdomain
      // (the correct behavior: unrelated `.ck` sites must never share a
      // trap verdict)
      val tlds = array(lit("com"), lit("co.jp"), lit("com.au"), lit("co.uk"),
        lit("ck"))
      val prefixes = array(lit(""), lit("www."), lit("m."))
      val hostOf = concat(
        element_at(prefixes, (pmod($"doc_id", lit(3)) + 1).cast("int")),
        lit("site"), $"m", lit("."),
        element_at(tlds, (pmod($"m", lit(5)) + 1).cast("int")))
      val normal = docs.select($"m", $"doc_id",
        concat(lit("https://"), hostOf, lit("/p/"), $"doc_id").as("url"),
        $"text")
      val trap = docs.filter(isTrap)
        .withColumn("v", explode(sequence(lit(1), lit(5))))
        .select($"m", $"doc_id",
          concat(lit("https://"), hostOf, lit("/cal/"), $"doc_id",
            lit("/view?session="), $"v" * 7919 + $"doc_id",
            lit("&page="), $"v", lit("&cal=1")).as("url"),
          $"text")
      val urls = normal.unionByName(trap)
        .select($"m",
          graft.operators.UrlOps.registrableDomainPsl(
            regexp_extract($"url", "^https://([^/]*)", 1),
            graft.operators.UrlOps.pslSnapshot).as("domain"),
          $"url", sha2($"text", 256).as("digest"),
          when($"url".contains("?"),
            size(split(regexp_extract($"url", "\\?(.*)$", 1), "&")))
            .otherwise(0).as("n_params"),
          (size(split(regexp_extract($"url", "^https://[^/]*(/.*)$", 1), "/")) - 1)
            .as("depth"))
      urls.groupBy($"domain")
        .agg(countDistinct($"url").as("n_urls"),
          countDistinct($"digest").as("n_contents"),
          sum($"n_params").as("sp"), sum($"depth").as("sd"),
          count(lit(1)).as("n"))
        .withColumn("url_per_content_k",
          expr("(n_urls * 1000) div n_contents"))
        .withColumn("params_mu", expr("(sp * 1000) div n"))
        .withColumn("depth_mu", expr("(sd * 1000) div n"))
        .withColumn("is_trap",
          ($"url_per_content_k" >= 3000L && $"params_mu" >= 2000L).cast("int"))
        .select($"domain", $"n_urls", $"n_contents", $"url_per_content_k",
          $"params_mu", $"depth_mu", $"is_trap")
        .orderBy($"domain")
    }),


    // Content-encoded WARC ingest, end-to-end — q296 one coding layer
    // deeper: WARC stores the HTTP message AS SENT, and a large share of
    // real archived responses are `Content-Encoding: gzip/deflate`, so
    // the record walk's HTTP split now inflates the entity inline
    // (RFC 9110 §8.4 — [[graft.sources.CompressedText.gunzipBytes]] /
    // `inflateBytes`, wire order dechunk-then-inflate for the stacked
    // class) and must hand the extractor EXACTLY the bytes the identity
    // fixture would. doc_id % 4 cycles gzip+chunked / gzip / zlib-deflate
    // / zstd (round 15: real RFC 8878 frames through the pure-Java
    // decoder); the `content_encoding` census column is closed-form; the
    // rest of the oracle is q273's byte-for-byte — one swallowed gzip
    // header or off-by-one inflate flips every md5 downstream.
    "q298_warc_content_encoding" -> ((s, dir) => {
      import s.implicits._
      // round 15: through the DSv2 `warc` table (file write + pruned scan)
      val warcs = graft.sources.WarcReader
        .buildContentEncodedFixture(t(s, dir, "documents"))
      val recs = graft.sources.WarcReader.viaTable(s, warcs, "warc",
        "q298-" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
      val isHtml = $"content_type".startsWith("text/html")
      recs.filter($"warc_type" === "response")
        .withColumn("canon_url",
          graft.operators.UrlOps.canonicalizeUrl($"target_uri"))
        .withColumn("body", decode($"payload", "UTF-8"))
        .withColumn("vis", when(isHtml,
          graft.operators.HtmlOps.visibleText($"body")).otherwise(""))
        .select($"canon_url",
          $"http_status".cast("long").as("http_status"),
          $"content_type", $"content_encoding",
          length($"payload").cast("long").as("payload_n_bytes"),
          when(isHtml, graft.operators.HtmlOps.htmlTitle($"body"))
            .otherwise("").as("title"),
          length($"vis").cast("long").as("vis_n_chars"),
          when(isHtml, md5($"vis")).otherwise("").as("vis_md5"))
        .orderBy($"canon_url")
    }),


    // Fused frontier construction — the crawl wing COMPOSED as one plan
    // (the q95 fused-pipeline argument applied to the frontier): robots
    // gate (q278 semantics), URL spam gate (q294), crawl-trap scores
    // (q297), domain quality prior (q295/q288 scorer), and politeness
    // waves (q289) over ONE URL scan that is never re-read. Robots rules
    // collapse to a per-domain rule ARRAY (quotient-sized → broadcast)
    // — each rule carrying its PRE-COMPILED §2.2.3 pattern (rule-side
    // `rulePattern`, so the per-row regex work exists only for the
    // rules that need it) — and the most-octets election runs SCAN-SIDE
    // as an `aggregate` higher-order fold whose match branches
    // `regexp_like` for wildcard/anchored rules and `startsWith` for
    // plain prefixes, the full q278 semantics (round 15; the fold was
    // prefix-only before). Group presence comes from the UA runs
    // (agentGroupRows). Trap signals and the Laplace prior share ONE
    // domain rollup (the first corpus-sized shuffle, broadcast back);
    // survivors rank into fetch waves through the windowless skew-safe
    // grouped rank (range exchange + span join, `broadcastSpans =
    // false` because domains are crawl-cardinality — the q270 shape and
    // its measured trade). The oracle chains the per-stage oracles:
    // scorer, signals, robots compile+election, gates, and the wave
    // window.
    "q299_frontier_fused" -> ((s, dir) => {
      import s.implicits._
      val k = pmod($"doc_id", lit(6))
      val base = t(s, dir, "documents").transform(graft.operators.Tuning.spreadDocs)
        .select($"doc_id", $"text", pmod($"doc_id", lit(37)).as("m"))
        .withColumn("domain", concat(lit("site"), $"m", lit(".com")))
        .withColumn("priority", pmod($"doc_id" * 37 + 11, lit(100)).cast("long"))
        .withColumn("path",
          when(k === 0, concat(lit("/article/"), $"doc_id"))
            .when(k === 1, concat(lit("/casino/win"), $"doc_id"))
            .when(k === 2, concat(lit("/private/a"), $"doc_id"))
            .when(k === 3, concat(lit("/private/ok/"), $"doc_id"))
            .when(k === 4, concat(lit("/p/"), $"doc_id"))
            .otherwise(lit("/tmp/x")))
      val isTrapDom = $"m" === 5 || $"m" === 11
      val burl = base.withColumn("url", concat(lit("https://"), $"domain", $"path"))
        .withColumn("is_base", lit(1))
      val trp = base.filter(isTrapDom)
        .withColumn("v", explode(sequence(lit(1), lit(5))))
        .withColumn("path", concat(lit("/cal/"), $"doc_id", lit("/view")))
        .withColumn("url", concat(lit("https://"), $"domain", $"path",
          lit("?session="), $"v" * 7919 + $"doc_id",
          lit("&page="), $"v", lit("&cal=1")))
        .withColumn("is_base", lit(0))
        .drop("v")
      // ONE scan computes every per-URL signal: q288 keep score, q294
      // spam class, q297 param count + content digest
      val tk = graft.operators.TextAnalysis.tokensCol($"text")
      val bigrams = zip_with(slice(tk, lit(1), greatest(size(tk) - 1, lit(0))),
        slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (a, b) => concat(a, lit("_"), b))
      val feats = concat(tk, bigrams)
      val score = aggregate(feats, lit(0L), (acc, x) => {
        val b = conv(substring(md5(x), 1, 8), 16, 10).cast("long") % 4096
        acc + ((b * 2654435761L) % 2003 - 1001)
      })
      val uu = Tuning.cut(burl.unionByName(trp)
        .withColumn("keep", (score > 0).cast("int"))
        .withColumn("spam_class", graft.operators.UrlOps.urlSpamClass($"url",
          Seq("casino", "viagra", "xxx", "poker")))
        .withColumn("n_params", when($"url".contains("?"),
          size(split(regexp_extract($"url", "\\?(.*)$", 1), "&")))
          .otherwise(0))
        .withColumn("digest", sha2($"text", 256))
        .drop("text")) // domain rollup + gated output both read it
      // shuffle 1: trap signals and the prior share one domain rollup,
      // broadcast back (domains are a corpus quotient)
      val dom = uu.groupBy($"domain")
        .agg(expr("((sum(keep * is_base) + 1) * 1000000) div (sum(is_base) + 2)")
            .as("prior_ppm"),
          expr("(count(distinct url) * 1000) div count(distinct digest)").as("upc"),
          expr("(sum(n_params) * 1000) div count(1)").as("pmu"))
        .withColumn("is_trap",
          ($"upc" >= 3000L && $"pmu" >= 2000L).cast("int"))
        .select($"domain", $"prior_ppm", $"is_trap")
      // robots: q289's fixture rules, collapsed to a broadcast rule array;
      // the longest-match-allow-tiebreak election is a scan-side fold
      val robots = base.select($"domain", $"m").distinct()
        .withColumn("txt", concat(
          lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
            "Disallow: /tmp\nDisallow: /dup\nAllow: /dup\n" +
            "Disallow: /article/*7$\nAllow: /tmp/x$\n"),
          when(pmod($"m", lit(3)) === 0,
            lit("\nUser-agent: graftbot\nDisallow: /p/9\nAllow: /p\n" +
              "Disallow: /article/*9$\n"))
            .otherwise(lit(""))))
      val rules = graft.operators.RobotsTxt.ruleRows(robots, "domain", "txt")
      val hasSpec = graft.operators.RobotsTxt
        .agentGroupRows(robots, "domain", "txt")
        .filter($"agent" === "graftbot")
        .select($"domain").distinct().withColumn("__s", lit(true))
      val rulesArr = rules.join(hasSpec, Seq("domain"), "left")
        .filter(when(coalesce($"__s", lit(false)), $"agent" === "graftbot")
          .otherwise($"agent" === "*"))
        // §2.2.3 compile happens RULE-side (quotient-sized), so the
        // broadcast array ships ready-to-match patterns; the scan-side
        // fold only evaluates them
        .withColumn("ispat",
          $"rpath".contains("*") || $"rpath".endsWith("$"))
        .withColumn("rx", graft.operators.RobotsTxt.rulePattern($"rpath"))
        .groupBy($"domain")
        .agg(collect_list(struct($"allow", $"rpath", $"ispat", $"rx")).as("rs"))
      val win = aggregate($"rs",
        struct(lit(-1).as("l"), lit(1).as("a")),
        (acc, r) => when(
          when(r.getField("ispat"), regexp_like($"path", r.getField("rx")))
            .otherwise($"path".startsWith(r.getField("rpath"))) &&
            (octet_length(r.getField("rpath")) > acc.getField("l") ||
              (octet_length(r.getField("rpath")) === acc.getField("l") &&
                r.getField("allow") > acc.getField("a"))),
          struct(octet_length(r.getField("rpath")).as("l"),
            r.getField("allow").as("a"))).otherwise(acc))
      val gated = uu
        .join(broadcast(dom), Seq("domain"))
        .join(broadcast(rulesArr), Seq("domain"), "left")
        .withColumn("allowed", coalesce(win.getField("a"), lit(1)))
        .filter($"is_base" === 1 && $"allowed" === 1 &&
          $"spam_class" === "clean" && $"is_trap" === 0 &&
          ($"keep" === 1 || $"prior_ppm" >= 700000L))
        .select($"doc_id", $"url", $"domain", $"priority",
          $"prior_ppm".cast("long").as("prior_ppm"))
      // shuffle 2: politeness waves via the windowless grouped rank
      graft.operators.Batching.groupedRowNumber(
          gated, Seq("domain"), Seq(col("priority").desc, col("doc_id")),
          numPartitions = 32, out = "wave", broadcastSpans = false)
        .select($"doc_id", $"url", $"domain", $"priority", $"prior_ppm", $"wave")
        .orderBy($"doc_id")
    }),


    // Crawl-delay-paced frontier — the fetch-TIMING half of politeness
    // (q289 assigns waves; this prices them): `Crawl-delay:` is not in
    // RFC 9309 but most major crawlers honor it, and unlike `Sitemap:`
    // it is GROUP-SCOPED, so extraction rides the same agent-group join
    // as the rules ([[graft.operators.RobotsTxt.crawlDelayRows]]) and
    // the same specific-group-suppresses-`*` selection — the fixture
    // pins exactly that: domains naming graftbot publish a generic 2 s
    // delay AND a graftbot 0.5 s delay, and the generic value must be
    // IGNORED there. Group PRESENCE comes from the UA runs themselves
    // ([[graft.operators.RobotsTxt.agentGroupRows]]), NOT from rule
    // rows — the m%3==1 domains pin the case that distinction exists
    // for: their graftbot group contains ONLY a `Crawl-delay: 3` line
    // (zero rules), yet it is still OUR group, so the generic rules AND
    // the generic delay are both ignored wholesale (everything allowed,
    // 3000 ms). Each URL's earliest polite fetch offset is
    // (wave − 1) × delay_ms in exact integer milliseconds (halves like
    // 0.5 s are the published norm — parsed ×1000 exact); domains with
    // no delay in their effective group default to 1000 ms. The oracle
    // replays parse, group election, delay selection, robots gate,
    // waves, and the pacing arithmetic.
    "q300_frontier_pacing" -> ((s, dir) => {
      import s.implicits._
      val urls = t(s, dir, "documents").select($"doc_id")
        .withColumn("m", pmod($"doc_id", lit(37)))
        .withColumn("domain", concat(lit("site"), $"m", lit(".com")))
        .withColumn("path",
          when(pmod($"doc_id", lit(5)) === 0, concat(lit("/p/"), $"doc_id"))
            .when(pmod($"doc_id", lit(5)) === 1, concat(lit("/private/a"), $"doc_id"))
            .when(pmod($"doc_id", lit(5)) === 2, concat(lit("/private/ok/"), $"doc_id"))
            .when(pmod($"doc_id", lit(5)) === 3, lit("/tmp/x"))
            .otherwise(lit("/dup/z")))
        .withColumn("priority", pmod($"doc_id" * 37 + 11, lit(100)).cast("long"))
      val robots = urls.select($"domain", $"m").distinct()
        .withColumn("txt", concat(
          lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\n" +
            "Disallow: /tmp\nDisallow: /dup\nAllow: /dup\n"),
          when(pmod($"m", lit(4)) =!= 3,
            concat(lit("Crawl-delay: "), lit(2) + pmod($"m", lit(4)), lit("\n")))
            .otherwise(lit("")), // m%4==3: no generic delay → default
          when(pmod($"m", lit(3)) === 0,
            concat(lit("\nUser-agent: graftbot\nDisallow: /p/9\nAllow: /p\n"),
              // the m%2==1 graftbot domains get NO delay in their group:
              // the generic 2-4 s must be IGNORED there (our group wins
              // wholesale) and the default applies — the interop case
              when(pmod($"m", lit(2)) === 0, lit("Crawl-delay: 0.5\n"))
                .otherwise(lit(""))))
            // m%3==1: a graftbot group with ONLY a delay line — zero
            // rules, but the group EXISTS, so `*` is ignored wholesale
            .when(pmod($"m", lit(3)) === 1,
              lit("\nUser-agent: graftbot\nCrawl-delay: 3\n"))
            .otherwise(lit(""))))
      val rules = graft.operators.RobotsTxt.ruleRows(robots, "domain", "txt")
      val delays = graft.operators.RobotsTxt.crawlDelayRows(robots, "domain", "txt")
      val groups = graft.operators.RobotsTxt.agentGroupRows(robots, "domain", "txt")
      // effective delay: the group our agent actually READS — presence
      // decided by the UA RUNS (a graftbot group whose only line is a
      // delay still suppresses the generic group; one with rules but no
      // delay line means default, never the generic value), defaulting
      // to 1000 ms — a quotient-sized relation, broadcast onto the
      // frontier
      val hasSpec = groups.filter($"agent" === "graftbot")
        .select($"domain").distinct().withColumn("__s", lit(true))
      val effDelay = delays.join(hasSpec, Seq("domain"), "left")
        .filter(when(coalesce($"__s", lit(false)), $"agent" === "graftbot")
          .otherwise($"agent" === "*"))
        .groupBy($"domain").agg(min($"delay_ms").as("delay_ms"))
      val ok = graft.operators.RobotsTxt
        .allowed(urls, rules, "domain", "path", "graftbot",
          groups = Some(groups))
        .filter($"allowed" === 1)
        .select($"doc_id", $"domain", $"priority")
      graft.operators.Batching.groupedRowNumber(
          ok, Seq("domain"), Seq(col("priority").desc, col("doc_id")),
          numPartitions = 32, out = "wave", broadcastSpans = false)
        .join(broadcast(effDelay), Seq("domain"), "left")
        .withColumn("delay_ms", coalesce($"delay_ms", lit(1000L)))
        .withColumn("fetch_offset_ms", ($"wave" - 1) * $"delay_ms")
        .select($"doc_id", $"domain", $"priority", $"wave", $"delay_ms",
          $"fetch_offset_ms")
        .orderBy($"doc_id")
    }),


    // Redirect-chain resolution ([[graft.operators.RedirectChains]]) —
    // a URL's identity is where its chain LANDS: archived 3xx records'
    // Location headers (REAL bytes through build→gzip→walk→HTTP-split)
    // AND — round 15 — `<meta http-equiv=refresh>` redirects extracted
    // from 200-HTML payloads ([[graft.operators.HtmlOps.metaRefreshUrl]]
    // scan-side, relative targets resolved like hrefs) form ONE edge
    // relation tagged by `kind` (http/meta), and every capture URL
    // resolves through bounded equi self-joins with cycle detection.
    // The fixture layers one-hop 301s, a two-hop 302→301 chain, a 302
    // LOOP, a one-hop meta redirect, and a MIXED meta→http chain over
    // the 200 pages; the oracle rebuilds both edge kinds closed-form
    // and REPLAYS the hop joins, the chain-containment loop flag, the
    // truncation probe, the first-hop kind, and the final-status join
    // generically. Meta extraction happens in the same scan-side
    // projection as the record walk, so payloads never outlive their
    // task; the edge relation stays the redirecting subset — id-sized
    // rows.
    "q301_redirect_chains" -> ((s, dir) => {
      import s.implicits._
      val warcs = graft.sources.WarcReader
        .buildRedirectFixture(t(s, dir, "documents"))
      // round 16: DSv2 `warc` table — the warc_type=response gate pushes
      // into the record walk (request/warcinfo payloads never copied)
      val recs = Tuning.cut(graft.sources.WarcReader.viaTable(s, warcs, "warc",
          "q301-" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
        .filter($"warc_type" === "response")
        .select($"target_uri", $"http_status", $"http_location",
          when($"http_status" === 200 && $"content_type".startsWith("text/html"),
            graft.operators.HtmlOps.metaRefreshUrl(decode($"payload", "UTF-8")))
            .otherwise("").as("meta_target"))) // starts + edges + final-status all read it
      val httpEdges = recs
        .filter($"http_status" >= 300 && $"http_status" < 400 &&
          $"http_location" =!= "")
        // RFC 9110 §10.2.2: Location may be a RELATIVE reference — it
        // resolves against the capture URL exactly like an href (the
        // fixture's one-hop 301s carry relative targets to pin this)
        .select($"target_uri".as("src"),
          graft.operators.LinkOps
            .resolveReference($"target_uri", $"http_location").as("dst"),
          lit("http").as("kind"))
      val metaEdges = recs.filter($"meta_target" =!= "")
        .select($"target_uri".as("src"),
          graft.operators.LinkOps
            .resolveReference($"target_uri", $"meta_target").as("dst"),
          lit("meta").as("kind"))
      val edges = httpEdges.unionByName(metaEdges)
      val starts = recs.select($"target_uri".as("url"))
      val firstKind = edges.select($"src", $"kind")
      graft.operators.RedirectChains
        .resolve(starts, edges, "url", "src", "dst", maxHops = 3)
        .join(recs.select($"target_uri".as("final_url"),
          $"http_status".as("fstat")), Seq("final_url"), "left")
        .join(firstKind, col("url") === col("src"), "left")
        .select($"url".as("start_url"), $"final_url", $"n_hops",
          $"chain_status", coalesce($"fstat", lit(0)).cast("long").as("final_status"),
          coalesce($"kind", lit("")).as("first_kind"))
        .orderBy($"start_url")
    }),


    // Content-Encoding census — the standing quantification of the
    // undecoded-coding share (the round-14 verdict's brotli/zstd gap;
    // round 15 closes the zstd half with the pure-Java decoder every
    // Spark distribution ships): per coding value, how many archived
    // responses carry it and how many payload bytes stay OPAQUE to
    // every downstream consumer (HtmlOps, charset sniff, MIME census
    // all see raw coded bytes on `;undecoded` rows). The fixture
    // cycles identity / well-formed gzip / x-gzip / deflate / REAL
    // zstd frames / brotli / CORRUPT-gzip / CORRUPT-zstd, so the
    // census proves both directions: decodable codings decode (their
    // payload bytes equal the page bytes — zstd now among them, its
    // frames compressed by zstd-jni and decoded by aircompressor, so
    // the round-trip crosses implementations) and undecodable ones are
    // flagged, never silently passed off as text. One scan, one
    // coding-keyed aggregate — at 100 TB this is the cheapest query in
    // the wing (the payload bytes never shuffle; only per-coding
    // counters do).
    "q302_encoding_census" -> ((s, dir) => {
      import s.implicits._
      val warcs = graft.sources.WarcReader
        .buildEncodingCensusFixture(t(s, dir, "documents"))
      // round 16: DSv2 `warc` table — type gate pushed into the walk
      graft.sources.WarcReader.viaTable(s, warcs, "warc",
          "q302-" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
        .filter($"warc_type" === "response")
        .groupBy($"content_encoding")
        .agg(count(lit(1)).as("n_responses"),
          sum(length($"payload")).cast("long").as("n_payload_bytes"))
        .withColumn("undecoded",
          $"content_encoding".endsWith(";undecoded").cast("int"))
        .select($"content_encoding", $"n_responses", $"n_payload_bytes",
          $"undecoded")
        .orderBy($"content_encoding")
    }),
  )

  /** The LinkOps pattern, SQL-quoted for embedding in a '…' literal
    * (single quotes doubled): one alternation group over double-quoted /
    * single-quoted / unquoted attribute values, quotes kept by the group
    * and stripped by the `dec` CTE — the exact Spark-side contract.
    */
  private val HrefPat =
    """(?is)<a\s[^>]*?href\s*=\s*("[^"]*"|''[^'']*''|[^\s>]+)[^>]*>(.*?)</a\s*>"""

  /** The fixture page, DuckDB side — byte-identical to [[linkFixture]]. */
  private val FixtureCtes =
    """d AS (SELECT doc_id, doc_id % 37 AS m,
  'https://site' || (doc_id % 37)::VARCHAR || '.com/a/b/page' || doc_id::VARCHAR || '.html' AS base,
  '<html>' || CASE WHEN doc_id % 4 = 1 THEN '<head><base href="https://basehost' || (doc_id % 37 % 3)::VARCHAR || '.org/bb/"><base href="https://ignored.example/zz/"></head>'
    WHEN doc_id % 4 = 3 THEN '<head><base href="/alt/dir/"></head>' ELSE '' END
  || '<body><a href="https://Other' || (doc_id % 5)::VARCHAR || '.ORG/x//y/">read <b>doc</b> ' || doc_id::VARCHAR
  || '</a><a href="//cdn' || (doc_id % 3)::VARCHAR || '.net/lib.js">cdn</a><a href="/root/' || doc_id::VARCHAR
  || '?b=2&amp;a=1">rooted</a><a href="sub/p%7E' || doc_id::VARCHAR
  || '.html">tilde rel</a><a href="../up' || doc_id::VARCHAR
  || '">parent</a><a href="?v=2&amp;utm_source=z">query only</a><a href=''/q/' || doc_id::VARCHAR
  || '?s=2&amp;t=3''>squote</a><a href=nav/' || (doc_id % 5)::VARCHAR
  || '.html>unq nav</a><a href="#sec">frag</a><a href="mailto:u' || doc_id::VARCHAR
  || '@example.com">mail</a></body></html>' AS html
FROM documents)"""

  /** The base-href pattern, SQL-quoted like [[HrefPat]]. */
  private val BaseHrefPat =
    """(?is)<base\s[^>]*?href\s*=\s*("[^"]*"|''[^'']*''|[^\s>]+)"""

  /** Extraction + WHATWG base election + §5.2.2 resolution + http(s)
    * filter, DuckDB side (the generic replay of LinkOps: the FIRST
    * `<base href>` resolves against the page URL, then every reference
    * resolves against the resulting effective base — scheme/root/path/
    * dir all derived from it generically; canonicalization is
    * per-query).
    */
  private val ResolvedCtes = FixtureCtes + s""",
bs AS (SELECT *, regexp_extract(html, '$BaseHrefPat', 1) AS bh0 FROM d),
bd AS (SELECT *, replace(replace(replace(replace(replace(
    CASE WHEN starts_with(bh0, '"') THEN regexp_replace(bh0, '^"((?s).*)"$$', '\\1')
         ELSE regexp_replace(bh0, '^''((?s).*)''$$', '\\1') END,
    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS bh FROM bs),
be AS (SELECT doc_id, m, base, html,
  CASE WHEN b = '' THEN base
       WHEN regexp_matches(b, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN b
       WHEN starts_with(b, '//') THEN 'https:' || b
       WHEN starts_with(b, '/') THEN 'https://site' || m::VARCHAR || '.com' || b
       WHEN starts_with(b, '?') THEN base || b
       ELSE 'https://site' || m::VARCHAR || '.com/a/b/' || b END AS eb
FROM (SELECT *, regexp_replace(bh, '#.*$$', '') AS b FROM bd)),
x AS (SELECT doc_id, m, base, eb,
  unnest(generate_series(1, len(regexp_extract_all(html, '$HrefPat', 1)))) AS link_no,
  unnest(regexp_extract_all(html, '$HrefPat', 1)) AS href0,
  unnest(regexp_extract_all(html, '$HrefPat', 2)) AS txt0
FROM be),
dec AS (SELECT doc_id, m, base, eb, link_no,
  replace(replace(replace(replace(replace(
    CASE WHEN starts_with(href0, '"') THEN regexp_replace(href0, '^"((?s).*)"$$', '\\1')
         ELSE regexp_replace(href0, '^''((?s).*)''$$', '\\1') END,
    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS href,
  trim(regexp_replace(replace(replace(replace(replace(replace(regexp_replace(txt0, '(?s)<[^>]*>', '', 'g'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'), '\\s+', ' ', 'g')) AS anchor
FROM x),
res AS (SELECT doc_id, m, link_no, anchor,
  CASE WHEN regexp_matches(r, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN r
       WHEN starts_with(r, '//') THEN regexp_extract(eb, '^([A-Za-z][A-Za-z0-9+.-]*):', 1) || ':' || r
       WHEN starts_with(r, '/') THEN ebroot || r
       WHEN r = '' THEN ebroot || ebpath
       WHEN starts_with(r, '?') THEN ebroot || ebpath || r
       ELSE ebroot || regexp_replace(ebpath, '[^/]*$$', '') || r END AS resolved
FROM (SELECT *,
    regexp_extract(eb, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS ebroot,
    CASE WHEN p0e = '' THEN '/' ELSE p0e END AS ebpath,
    regexp_replace(href, '#.*$$', '') AS r
  FROM (SELECT *, regexp_extract(eb, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS p0e FROM dec))),
ok AS (SELECT * FROM res WHERE regexp_matches(resolved, '^https?://')),
canon AS (SELECT doc_id, m, link_no, anchor,
  lower(regexp_extract(resolved, '^[a-z]+://([^:/?]*)', 1)) AS host,
  regexp_replace(replace(replace(replace(replace(regexp_replace(
      CASE WHEN p0 = '' THEN '/' ELSE p0 END,
      '/{2,}', '/', 'g'), '%7E', '~'), '/a/b/../', '/a/'), '/bb/../', '/'), '/alt/dir/../', '/alt/'), '(.)/$$', '\\1') AS path,
  coalesce(array_to_string(list_sort(list_filter(string_split(
      regexp_replace(resolved, '^[^?]*\\??', ''), '&'),
    y -> NOT regexp_matches(y, '^(utm_[^=]*|fbclid|gclid)=') AND y <> '')), '&'), '') AS q
FROM (SELECT *, regexp_extract(resolved, '^[A-Za-z]+://[^/?]*([^?]*)', 1) AS p0 FROM ok)),
links AS (SELECT doc_id, m, link_no, anchor,
  'https://' || host || path || CASE WHEN q = '' THEN '' ELSE '?' || q END AS url,
  host
FROM canon)"""

  val oracleSql: Map[String, String] = Map(

    // q283: the whole chain replayed — same RE2 href/anchor pattern, same
    // entity order (amp LAST), same resolution CASE, same canonical steps
    // (the fixture's %7E and merge-made /a/b/.. as their exact SQL twins)
    "q283_link_extraction" ->
      s"""WITH $ResolvedCtes
SELECT doc_id, link_no::BIGINT AS link_no, url, anchor
FROM links ORDER BY doc_id, link_no""",

    // q284: same chain to (src_host, dst_host), then the degree aggs and
    // the three integer ppm rank rounds exactly as q108's oracle
    "q284_host_graph" ->
      s"""WITH $ResolvedCtes,
le AS (SELECT 'site' || m::VARCHAR || '.com' AS src_host, host AS dst_host FROM links),
edges AS (SELECT src_host, dst_host, count(*)::BIGINT AS n_links FROM le WHERE src_host <> dst_host GROUP BY src_host, dst_host),
prs AS (SELECT DISTINCT least(src_host, dst_host) AS a, greatest(src_host, dst_host) AS b FROM edges),
sym AS (SELECT a AS src, b AS dst FROM prs UNION ALL SELECT b, a FROM prs),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM sym GROUP BY src),
r0 AS (SELECT src AS id, deg, 1000000::BIGINT AS rank_u FROM deg),
c1 AS (SELECT e.dst, sum(r.rank_u // r.deg)::BIGINT AS mass FROM sym e JOIN r0 r ON e.src = r.id GROUP BY e.dst),
r1 AS (SELECT r.id, r.deg, (150000 + (85 * coalesce(mass, 0)) // 100)::BIGINT AS rank_u FROM r0 r LEFT JOIN c1 ON r.id = c1.dst),
c2 AS (SELECT e.dst, sum(r.rank_u // r.deg)::BIGINT AS mass FROM sym e JOIN r1 r ON e.src = r.id GROUP BY e.dst),
r2 AS (SELECT r.id, r.deg, (150000 + (85 * coalesce(mass, 0)) // 100)::BIGINT AS rank_u FROM r1 r LEFT JOIN c2 ON r.id = c2.dst),
c3 AS (SELECT e.dst, sum(r.rank_u // r.deg)::BIGINT AS mass FROM sym e JOIN r2 r ON e.src = r.id GROUP BY e.dst),
r3 AS (SELECT r.id, r.deg, (150000 + (85 * coalesce(mass, 0)) // 100)::BIGINT AS rank_u FROM r2 r LEFT JOIN c3 ON r.id = c3.dst),
outd AS (SELECT src_host AS host, count(*)::BIGINT AS out_deg, sum(n_links)::BIGINT AS n_out_links FROM edges GROUP BY src_host),
ind AS (SELECT dst_host AS host, count(*)::BIGINT AS in_deg, sum(n_links)::BIGINT AS n_in_links FROM edges GROUP BY dst_host)
SELECT r3.id AS host,
  coalesce(out_deg, 0)::BIGINT AS out_deg, coalesce(in_deg, 0)::BIGINT AS in_deg,
  coalesce(n_out_links, 0)::BIGINT AS n_out_links, coalesce(n_in_links, 0)::BIGINT AS n_in_links,
  r3.deg, r3.rank_u
FROM r3 LEFT JOIN outd ON r3.id = outd.host LEFT JOIN ind ON r3.id = ind.host
ORDER BY host""",

    // q285: build, PARSE (own regexp split + JSON ->> extraction), and
    // arg_max election all replayed; the SURT key re-derived generically
    // (www strip + label reverse)
    "q285_cdx_latest_capture" ->
      raw"""WITH docs AS (SELECT doc_id, text, n_chars, doc_id % 37 AS m FROM documents),
prim AS (SELECT doc_id, text, n_chars, m, unnest(generate_series(0, (doc_id % 3)::INT)) AS j, 'site' || (doc_id % 37)::VARCHAR || '.com' AS host FROM docs),
al AS (SELECT doc_id, text, n_chars, m, 9 AS j, 'www.site' || (doc_id % 37)::VARCHAR || '.com' AS host FROM docs WHERE doc_id % 4 = 0),
caps AS (SELECT * FROM prim UNION ALL SELECT * FROM al),
b AS (SELECT doc_id, j, host,
  'https://' || host || '/p/' || doc_id::VARCHAR AS canon,
  '2025' || lpad((((doc_id + j) % 12) + 1)::VARCHAR, 2, '0') || lpad((((doc_id * 7 + j * 3) % 28) + 1)::VARCHAR, 2, '0') || lpad(((j * 5) % 24)::VARCHAR, 2, '0') || '0000' AS ts14,
  substr(md5(text || '|' || ((j + 1) // 2)::VARCHAR), 1, 16) AS digest,
  CASE WHEN j = 2 THEN 301 ELSE 200 END AS status,
  (n_chars + j)::BIGINT AS len
FROM caps),
srt AS (SELECT *,
  array_to_string(list_reverse(string_split(CASE WHEN starts_with(host, 'www.') THEN substr(host, 5) ELSE host END, '.')), ',') || ')/p/' || doc_id::VARCHAR AS urlkey
FROM b),
ln AS (SELECT urlkey || ' ' || ts14 || ' {"url":"' || canon || '","mime":"text/html","status":' || status::VARCHAR || ',"digest":"' || digest || '","length":' || len::VARCHAR || '}' AS line FROM srt),
p AS (SELECT regexp_extract(line, '^(\S+) ', 1) AS urlkey,
  regexp_extract(line, '^\S+ ([0-9]{14}) ', 1) AS ts,
  regexp_replace(line, '^\S+ [0-9]{14} ', '') AS js
FROM ln),
f AS (SELECT urlkey, ts, (js ->> 'status')::INT AS status, js ->> 'digest' AS digest, (js ->> 'length')::BIGINT AS length FROM p)
SELECT urlkey, count(*)::BIGINT AS n_captures, count(DISTINCT digest)::BIGINT AS n_versions,
  max(ts) AS latest_ts, arg_max(status, ts) AS latest_status, arg_max(digest, ts) AS latest_digest, arg_max(length, ts) AS latest_length
FROM f GROUP BY urlkey ORDER BY urlkey""",

    // q286: sniffed + declared types closed-form from the class index
    // (the bytes are Spark-built; a wrong magic row, tag scan, or
    // binary-check hole lands the doc in a different census group)
    "q286_mime_sniff" ->
      raw"""WITH c AS (SELECT doc_id,
  CASE (doc_id % 10) WHEN 0 THEN 'application/pdf' WHEN 1 THEN 'image/png' WHEN 2 THEN 'image/jpeg'
    WHEN 3 THEN 'image/gif' WHEN 4 THEN 'application/zip' WHEN 5 THEN 'application/gzip'
    WHEN 6 THEN 'text/html' WHEN 7 THEN 'audio/wav' WHEN 8 THEN 'text/plain'
    ELSE 'application/octet-stream' END AS sniffed_mime,
  CASE (doc_id % 10) WHEN 0 THEN 'application/pdf' WHEN 1 THEN 'image/png' WHEN 2 THEN 'image/jpeg'
    WHEN 3 THEN 'image/png' WHEN 4 THEN 'application/zip' WHEN 5 THEN 'text/html'
    WHEN 6 THEN 'text/html' WHEN 7 THEN 'audio/wav' WHEN 8 THEN 'text/plain'
    ELSE 'text/plain' END AS declared_mime
FROM documents)
SELECT sniffed_mime, declared_mime, count(*)::BIGINT AS n_docs, min(doc_id) AS first_doc,
  CASE WHEN sniffed_mime = declared_mime THEN 1 ELSE 0 END AS is_match
FROM c GROUP BY sniffed_mime, declared_mime ORDER BY sniffed_mime, declared_mime""",

    // q287: the repaired text stated closed-form per damage class — the
    // oracle asserts WHAT the inverse must produce (single, double,
    // untouched-genuine, untouched-ASCII), not how
    "q287_mojibake_repair" ->
      """WITH c AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') ||
  CASE (doc_id % 5) WHEN 1 THEN ' café — ok' WHEN 2 THEN ' über ’q’' WHEN 3 THEN ' café' WHEN 4 THEN ' café naïve' ELSE '' END AS fixed,
  CASE WHEN (doc_id % 5) IN (1, 2, 3) THEN 1 ELSE 0 END AS changed
FROM documents)
SELECT doc_id, changed, length(fixed)::BIGINT AS n_chars_out, md5(fixed) AS fixed_md5
FROM c ORDER BY doc_id""",

    // q288: tokenization, bigram construction, md5 bucketing, the weight
    // function, and the integer sum all replayed inside list lambdas
    "q288_hashed_classifier" ->
      raw"""WITH tk AS (SELECT doc_id, source, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS t FROM documents),
f AS (SELECT doc_id, source,
  list_concat(t, list_transform(generate_series(1, len(t) - 1), i -> t[i] || '_' || t[i + 1])) AS feats
FROM tk)
SELECT doc_id, source, len(feats)::BIGINT AS n_feat,
  coalesce(list_sum(list_transform(feats, x ->
    ((('0x' || substr(md5(x), 1, 8))::BIGINT % 4096) * 2654435761) % 2003 - 1001)), 0)::BIGINT AS score_u,
  CASE WHEN coalesce(list_sum(list_transform(feats, x ->
    ((('0x' || substr(md5(x), 1, 8))::BIGINT % 4096) * 2654435761) % 2003 - 1001)), 0) > 0 THEN 1 ELSE 0 END AS keep
FROM f ORDER BY doc_id""",

    // q289: q278's full robots replay, then the wave assignment as a
    // plain window (fine at oracle scale; the engine ranks windowless)
    "q289_frontier_schedule" ->
      raw"""WITH d AS (SELECT doc_id, doc_id % 37 AS m,
  'site' || (doc_id % 37)::VARCHAR || '.com' AS domain,
  CASE (doc_id % 5)
    WHEN 0 THEN '/p/' || doc_id::VARCHAR
    WHEN 1 THEN '/private/a' || doc_id::VARCHAR
    WHEN 2 THEN '/private/ok/' || doc_id::VARCHAR
    WHEN 3 THEN '/tmp/x'
    ELSE '/dup/z' END AS path,
  ((doc_id * 37 + 11) % 100)::BIGINT AS priority
FROM documents),
rob AS (SELECT DISTINCT domain,
  'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) || 'Allow: /private/ok' || chr(10) || 'Disallow: /tmp' || chr(10) || 'Disallow: /dup' || chr(10) || 'Allow: /dup' || chr(10) ||
  CASE WHEN m % 3 = 0 THEN chr(10) || 'User-agent: graftbot' || chr(10) || 'Disallow: /p/9' || chr(10) || 'Allow: /p' || chr(10) ELSE '' END AS txt
FROM d),
lines AS (SELECT domain, unnest(range(1, len(string_split(txt, chr(10))) + 1)) AS ln, unnest(string_split(txt, chr(10))) AS line FROM rob),
fl AS (SELECT domain, ln, line, lower(trim(line)) AS lline FROM lines),
fl2 AS (SELECT *, starts_with(lline, 'user-agent:') AS is_ua,
  (starts_with(lline, 'allow:') OR starts_with(lline, 'disallow:')) AS is_rule FROM fl),
fl3 AS (SELECT *, coalesce(lag(is_ua) OVER (PARTITION BY domain ORDER BY ln), false) AS prev_ua FROM fl2),
g AS (SELECT *, sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END) OVER (PARTITION BY domain ORDER BY ln ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM fl3),
ag AS (SELECT domain, grp, trim(regexp_replace(lline, '^user-agent:\s*', '')) AS agent FROM g WHERE is_ua),
ru AS (SELECT domain, grp,
  CASE WHEN starts_with(lline, 'allow:') THEN 1 ELSE 0 END AS allow,
  trim(regexp_replace(line, '(?i)^\s*(allow|disallow):\s*', '')) AS rpath
  FROM g WHERE is_rule),
rr AS (SELECT ru.domain, ag.agent, ru.allow, ru.rpath FROM ru JOIN ag USING (domain, grp) WHERE ru.rpath <> ''),
spec AS (SELECT DISTINCT domain FROM rr WHERE agent = 'graftbot'),
eff AS (SELECT rr.domain, rr.allow, rr.rpath FROM rr LEFT JOIN spec ON rr.domain = spec.domain
  WHERE CASE WHEN spec.domain IS NOT NULL THEN rr.agent = 'graftbot' ELSE rr.agent = '*' END),
mt AS (SELECT d.doc_id, e.allow, length(e.rpath) AS l
  FROM d JOIN eff e ON d.domain = e.domain AND starts_with(d.path, e.rpath)),
win AS (SELECT doc_id, allow, l, row_number() OVER (PARTITION BY doc_id ORDER BY l DESC, allow DESC) AS rn FROM mt),
ok AS (SELECT d.doc_id, d.domain, d.priority
  FROM d LEFT JOIN (SELECT doc_id, allow FROM win WHERE rn = 1) w USING (doc_id)
  WHERE coalesce(w.allow, 1) = 1)
SELECT doc_id, domain, priority,
  row_number() OVER (PARTITION BY domain ORDER BY priority DESC, doc_id)::BIGINT AS wave
FROM ok ORDER BY doc_id""",

    // q290: the same link chain, then both aggregations; the struct-max
    // anchor election replayed as rn=1 over (n DESC, anchor DESC)
    "q290_anchor_aggregation" ->
      s"""WITH $ResolvedCtes,
la AS (SELECT url, 'site' || m::VARCHAR || '.com' AS src_domain, anchor FROM links),
pa AS (SELECT url, anchor, count(*)::BIGINT AS n FROM la GROUP BY url, anchor),
top AS (SELECT url, anchor, n, row_number() OVER (PARTITION BY url ORDER BY n DESC, anchor DESC) AS rn FROM pa),
agg AS (SELECT url, sum(n)::BIGINT AS n_refs, count(*)::BIGINT AS n_anchors FROM pa GROUP BY url),
sd AS (SELECT url, count(DISTINCT src_domain)::BIGINT AS n_src_domains FROM la GROUP BY url)
SELECT a.url, n_refs, n_src_domains, n_anchors, t.anchor AS top_anchor, t.n AS top_anchor_n
FROM agg a JOIN sd USING (url) JOIN (SELECT url, anchor, n FROM top WHERE rn = 1) t USING (url)
ORDER BY url""",

    // q291: q285's capture rebuild, then the change-rate estimator, the
    // error latch, the priority election, and the SURT-key reversal
    "q291_recrawl_planner" ->
      raw"""WITH docs AS (SELECT doc_id, text, n_chars, doc_id % 37 AS m FROM documents),
prim AS (SELECT doc_id, text, m, unnest(generate_series(0, (doc_id % 3)::INT)) AS j, 'site' || (doc_id % 37)::VARCHAR || '.com' AS host FROM docs),
al AS (SELECT doc_id, text, m, 9 AS j, 'www.site' || (doc_id % 37)::VARCHAR || '.com' AS host FROM docs WHERE doc_id % 4 = 0),
caps AS (SELECT * FROM prim UNION ALL SELECT * FROM al),
b AS (SELECT doc_id, j,
  array_to_string(list_reverse(string_split(CASE WHEN starts_with(host, 'www.') THEN substr(host, 5) ELSE host END, '.')), ',') || ')/p/' || doc_id::VARCHAR AS urlkey,
  '2025' || lpad((((doc_id + j) % 12) + 1)::VARCHAR, 2, '0') || lpad((((doc_id * 7 + j * 3) % 28) + 1)::VARCHAR, 2, '0') || lpad(((j * 5) % 24)::VARCHAR, 2, '0') || '0000' AS ts14,
  substr(md5(text || '|' || ((j + 1) // 2)::VARCHAR), 1, 16) AS digest,
  CASE WHEN j = 2 THEN 301 ELSE 200 END AS status
FROM caps),
idx AS (SELECT urlkey, count(*)::BIGINT AS n_captures, count(DISTINCT digest)::BIGINT AS n_versions,
  arg_max(status, ts14) AS latest_status
FROM b GROUP BY urlkey),
pl AS (SELECT *,
  ((n_versions - 1) * 1000000) // greatest(n_captures - 1, 1) AS change_ppm
FROM idx)
SELECT urlkey,
  array_to_string(list_reverse(string_split(regexp_extract(urlkey, '^([^)]*)\)', 1), ',')), '.') AS domain,
  n_captures, n_versions, latest_status,
  change_ppm::BIGINT AS change_ppm,
  (change_ppm + CASE WHEN latest_status <> 200 THEN 500000 ELSE 0 END)::BIGINT AS priority_u,
  CASE WHEN change_ppm + CASE WHEN latest_status <> 200 THEN 500000 ELSE 0 END >= 300000 THEN 1 ELSE 0 END AS refetch
FROM pl ORDER BY urlkey""",

    // q292: the election and census replayed closed-form — one canonical
    // response per distinct sha-256, everything else a zero-payload
    // revisit that must resolve by digest
    "q292_warc_revisit_dedup" ->
      """WITH p AS (
  SELECT doc_id, 'https://site' || (doc_id % 37)::VARCHAR || '.com/p/' || doc_id::VARCHAR AS url,
         '<html><body><p>' || text || '</p></body></html>' AS body FROM documents
  UNION ALL
  SELECT doc_id, 'https://mirror' || (doc_id % 7)::VARCHAR || '.net/m/' || doc_id::VARCHAR AS url,
         '<html><body><p>' || text || '</p></body></html>' AS body FROM documents WHERE doc_id % 11 = 0),
d AS (SELECT doc_id, url, body, sha256(body) AS dg FROM p),
c AS (SELECT dg, min(url) AS curl FROM d GROUP BY dg),
f AS (SELECT d.doc_id, d.url, d.body, CASE WHEN d.url = c.curl THEN 1 ELSE 0 END AS canon FROM d JOIN c ON d.dg = c.dg),
resp AS (SELECT count(*)::BIGINT AS n, coalesce(sum(octet_length(encode(body))), 0)::BIGINT AS bytes FROM f WHERE canon = 1),
rev AS (SELECT count(*)::BIGINT AS n FROM f WHERE canon = 0)
SELECT warc_type, n_records, payload_bytes, n_digest_resolved FROM (
  SELECT 'response' AS warc_type, (SELECT n FROM resp) AS n_records, (SELECT bytes FROM resp) AS payload_bytes, 0::BIGINT AS n_digest_resolved
  UNION ALL
  SELECT 'revisit', (SELECT n FROM rev), 0::BIGINT, (SELECT n FROM rev)
) ORDER BY warc_type""",

    // q293: the expected decode stated per framing class — a partial
    // decode of the truncated class or one spliced size line flips the md5
    "q293_http_dechunk" ->
      """WITH c AS (SELECT doc_id, 'chunked-body: ' || regexp_replace(text, '[^ -~]', '', 'g') AS txt FROM documents)
SELECT doc_id,
  CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS decode_ok,
  (CASE WHEN doc_id % 7 = 0 THEN 0 ELSE length(txt) END)::BIGINT AS n_bytes,
  CASE WHEN doc_id % 7 = 0 THEN '' ELSE md5(txt) END AS body_md5
FROM c ORDER BY doc_id""",

    // q294: the SAME boundary-regex CASE chain replayed generically —
    // lexicon order is the tie-break, maxxx must stay clean
    "q294_url_spam_filter" ->
      raw"""WITH u AS (SELECT doc_id,
  CASE (doc_id % 6)
    WHEN 0 THEN 'https://site' || (doc_id % 37)::VARCHAR || '.com/article/' || doc_id::VARCHAR
    WHEN 1 THEN 'https://site' || (doc_id % 37)::VARCHAR || '.com/casino/win' || doc_id::VARCHAR
    WHEN 2 THEN 'https://site' || (doc_id % 37)::VARCHAR || '.com/shop/viagra-' || doc_id::VARCHAR
    WHEN 3 THEN 'https://site' || (doc_id % 37)::VARCHAR || '.com/xxx/' || doc_id::VARCHAR
    WHEN 4 THEN 'https://site' || (doc_id % 37)::VARCHAR || '.com/blog/maxxx' || doc_id::VARCHAR
    ELSE 'https://poker.site' || (doc_id % 37)::VARCHAR || '.com/t/' || doc_id::VARCHAR END AS url
FROM documents),
cl AS (SELECT doc_id,
  CASE WHEN regexp_matches(lower(url), '(^|[/.\-_?=&])casino([/.\-_?=&]|$$)') THEN 'casino'
       WHEN regexp_matches(lower(url), '(^|[/.\-_?=&])viagra([/.\-_?=&]|$$)') THEN 'viagra'
       WHEN regexp_matches(lower(url), '(^|[/.\-_?=&])xxx([/.\-_?=&]|$$)') THEN 'xxx'
       WHEN regexp_matches(lower(url), '(^|[/.\-_?=&])poker([/.\-_?=&]|$$)') THEN 'poker'
       ELSE 'clean' END AS spam_class
FROM u)
SELECT spam_class, count(*)::BIGINT AS n_urls, min(doc_id) AS first_doc,
  CASE WHEN spam_class <> 'clean' THEN 1 ELSE 0 END AS is_spam
FROM cl GROUP BY spam_class ORDER BY spam_class""",

    // q295: q288's scorer replayed, then the Laplace prior and the
    // rescue rule in exact integer math
    "q295_domain_prior" ->
      raw"""WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS t FROM documents),
f AS (SELECT doc_id, list_concat(t, list_transform(generate_series(1, len(t) - 1), i -> t[i] || '_' || t[i + 1])) AS feats FROM tk),
sc AS (SELECT doc_id,
  CASE WHEN (doc_id % 37) % 5 = 4 THEN
    (['','www.','blog.'])[(doc_id % 3)::INT + 1] || 'site' || (doc_id % 37)::VARCHAR || '.ck'
  ELSE 'site' || (doc_id % 37)::VARCHAR || '.' || (['com','co.jp','com.au','co.uk','ck'])[((doc_id % 37) % 5)::INT + 1] END AS domain,
  CASE WHEN coalesce(list_sum(list_transform(feats, x ->
    ((('0x' || substr(md5(x), 1, 8))::BIGINT % 4096) * 2654435761) % 2003 - 1001)), 0) > 0 THEN 1 ELSE 0 END AS keep
FROM f),
pr AS (SELECT domain, ((sum(keep)::BIGINT + 1) * 1000000) // (count(*)::BIGINT + 2) AS prior_ppm FROM sc GROUP BY domain)
SELECT doc_id, sc.domain, keep, prior_ppm::BIGINT AS prior_ppm,
  CASE WHEN keep = 1 OR prior_ppm >= 700000 THEN 1 ELSE 0 END AS final_keep
FROM sc JOIN pr ON sc.domain = pr.domain ORDER BY doc_id""",

    // q296: q273's oracle verbatim — the dechunked entity bytes must be
    // indistinguishable from the Content-Length framing's
    "q296_warc_chunked_ingest" ->
      """WITH d AS (SELECT doc_id, text,
  'https://site' || (doc_id % 37)::VARCHAR || '.' || (['com','org','co.uk','net'])[(doc_id % 4)::INT + 1] || '/p/' || doc_id::VARCHAR || '?id=' || doc_id::VARCHAR AS canon_url,
  CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END AS st,
  '<html><head><title>Doc ' || doc_id::VARCHAR || '</title></head><body><h1>Doc ' || doc_id::VARCHAR || '</h1><p>' || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') || '</p></body></html>' AS html
FROM documents),
tx AS (SELECT doc_id, canon_url, st, html,
  regexp_replace(regexp_replace(regexp_replace(html, '(?is)<script\b[^>]*>.*?</script\s*>|<style\b[^>]*>.*?</style\s*>|<noscript\b[^>]*>.*?</noscript\s*>|<!--.*?-->', '', 'g'), '(?i)</(p|div|li|ul|ol|h[1-6]|tr|table|blockquote|section|article)\s*>|<br\s*/?>', chr(10), 'g'), '(?s)<[^>]*>', '', 'g') AS notags
FROM d),
de AS (SELECT doc_id, canon_url, st, html,
  replace(regexp_replace(replace(replace(replace(replace(notags, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;|&apos;', '''', 'g'), '&amp;', '&') AS decoded
FROM tx),
vis AS (SELECT doc_id, canon_url, st, html,
  trim(regexp_replace(regexp_replace(regexp_replace(decoded, '[ \t\x0B\f\r]+', ' ', 'g'), '(?m)^ +| +$', '', 'g'), '\n{2,}', chr(10), 'g'), ' ' || chr(10)) AS v
FROM de)
SELECT canon_url,
  st::BIGINT AS http_status,
  CASE WHEN st = 200 THEN 'text/html; charset=UTF-8' ELSE 'text/plain' END AS content_type,
  CASE WHEN st = 200 THEN octet_length(encode(html)) ELSE 10 END::BIGINT AS payload_n_bytes,
  CASE WHEN st = 200 THEN 'Doc ' || doc_id::VARCHAR ELSE '' END AS title,
  CASE WHEN st = 200 THEN length(v) ELSE 0 END::BIGINT AS vis_n_chars,
  CASE WHEN st = 200 THEN md5(v) ELSE '' END AS vis_md5
FROM vis ORDER BY canon_url""",

    // q297: fixture, signals, and threshold replayed in exact integers;
    // the registrable domain is stated closed-form — the engine must
    // strip the rotating subdomains through the PSL snapshot
    "q297_trap_detection" ->
      raw"""WITH docs AS (SELECT doc_id, text, doc_id % 37 AS m,
  (['','www.','m.'])[(doc_id % 3)::INT + 1] || 'site' || (doc_id % 37)::VARCHAR || '.' || (['com','co.jp','com.au','co.uk','ck'])[((doc_id % 37) % 5)::INT + 1] AS host,
  CASE WHEN (doc_id % 37) % 5 = 4 THEN
    (['','www.','m.'])[(doc_id % 3)::INT + 1] || 'site' || (doc_id % 37)::VARCHAR || '.ck'
  ELSE 'site' || (doc_id % 37)::VARCHAR || '.' || (['com','co.jp','com.au','co.uk','ck'])[((doc_id % 37) % 5)::INT + 1] END AS dom
FROM documents),
nrm AS (SELECT m, doc_id, dom, 'https://' || host || '/p/' || doc_id::VARCHAR AS url, text FROM docs),
trp AS (SELECT m, doc_id, dom,
  'https://' || host || '/cal/' || doc_id::VARCHAR || '/view?session=' || (v * 7919 + doc_id)::VARCHAR || '&page=' || v::VARCHAR || '&cal=1' AS url, text
FROM docs, generate_series(1, 5) AS t(v) WHERE m IN (5, 11)),
u AS (SELECT m, dom AS domain, url, sha256(text) AS digest,
  CASE WHEN contains(url, '?') THEN len(string_split(regexp_extract(url, '\?(.*)$$', 1), '&')) ELSE 0 END AS n_params,
  len(string_split(regexp_extract(url, '^https://[^/]*(/.*)$$', 1), '/')) - 1 AS depth
FROM (SELECT * FROM nrm UNION ALL SELECT * FROM trp))
SELECT domain, count(DISTINCT url)::BIGINT AS n_urls, count(DISTINCT digest)::BIGINT AS n_contents,
  ((count(DISTINCT url) * 1000) // count(DISTINCT digest))::BIGINT AS url_per_content_k,
  ((sum(n_params)::BIGINT * 1000) // count(*))::BIGINT AS params_mu,
  ((sum(depth)::BIGINT * 1000) // count(*))::BIGINT AS depth_mu,
  CASE WHEN (count(DISTINCT url) * 1000) // count(DISTINCT digest) >= 3000
        AND (sum(n_params)::BIGINT * 1000) // count(*) >= 2000 THEN 1 ELSE 0 END AS is_trap
FROM u GROUP BY domain ORDER BY domain""",

    // q298: q296's oracle (itself q273's, byte-for-byte through the
    // decode chain) plus the closed-form content_encoding census —
    // gzip bytes are not replayable in SQL, so equality of the DECODED
    // entity's length/md5 with the identity fixture's is the proof
    "q298_warc_content_encoding" ->
      """WITH d AS (SELECT doc_id, text,
  'https://site' || (doc_id % 37)::VARCHAR || '.' || (['com','org','co.uk','net'])[(doc_id % 4)::INT + 1] || '/p/' || doc_id::VARCHAR || '?id=' || doc_id::VARCHAR AS canon_url,
  CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END AS st,
  CASE WHEN doc_id % 17 = 0 THEN '' WHEN doc_id % 4 = 2 THEN 'deflate' WHEN doc_id % 4 = 3 THEN 'zstd' ELSE 'gzip' END AS cenc,
  '<html><head><title>Doc ' || doc_id::VARCHAR || '</title></head><body><h1>Doc ' || doc_id::VARCHAR || '</h1><p>' || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') || '</p></body></html>' AS html
FROM documents),
tx AS (SELECT doc_id, canon_url, st, cenc, html,
  regexp_replace(regexp_replace(regexp_replace(html, '(?is)<script\b[^>]*>.*?</script\s*>|<style\b[^>]*>.*?</style\s*>|<noscript\b[^>]*>.*?</noscript\s*>|<!--.*?-->', '', 'g'), '(?i)</(p|div|li|ul|ol|h[1-6]|tr|table|blockquote|section|article)\s*>|<br\s*/?>', chr(10), 'g'), '(?s)<[^>]*>', '', 'g') AS notags
FROM d),
de AS (SELECT doc_id, canon_url, st, cenc, html,
  replace(regexp_replace(replace(replace(replace(replace(notags, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;|&apos;', '''', 'g'), '&amp;', '&') AS decoded
FROM tx),
vis AS (SELECT doc_id, canon_url, st, cenc, html,
  trim(regexp_replace(regexp_replace(regexp_replace(decoded, '[ \t\x0B\f\r]+', ' ', 'g'), '(?m)^ +| +$', '', 'g'), '\n{2,}', chr(10), 'g'), ' ' || chr(10)) AS v
FROM de)
SELECT canon_url,
  st::BIGINT AS http_status,
  CASE WHEN st = 200 THEN 'text/html; charset=UTF-8' ELSE 'text/plain' END AS content_type,
  cenc AS content_encoding,
  CASE WHEN st = 200 THEN octet_length(encode(html)) ELSE 10 END::BIGINT AS payload_n_bytes,
  CASE WHEN st = 200 THEN 'Doc ' || doc_id::VARCHAR ELSE '' END AS title,
  CASE WHEN st = 200 THEN length(v) ELSE 0 END::BIGINT AS vis_n_chars,
  CASE WHEN st = 200 THEN md5(v) ELSE '' END AS vis_md5
FROM vis ORDER BY canon_url""",

    // q299: every stage oracle chained — q288's scorer, q297's signals,
    // q289's robots window election, q294's boundary spam CASE, the
    // Laplace prior, the gates, and the wave window
    "q299_frontier_fused" ->
      raw"""WITH base AS (SELECT doc_id, text, doc_id % 37 AS m,
  'site' || (doc_id % 37)::VARCHAR || '.com' AS domain,
  ((doc_id * 37 + 11) % 100)::BIGINT AS priority,
  CASE (doc_id % 6)
    WHEN 0 THEN '/article/' || doc_id::VARCHAR
    WHEN 1 THEN '/casino/win' || doc_id::VARCHAR
    WHEN 2 THEN '/private/a' || doc_id::VARCHAR
    WHEN 3 THEN '/private/ok/' || doc_id::VARCHAR
    WHEN 4 THEN '/p/' || doc_id::VARCHAR
    ELSE '/tmp/x' END AS path
FROM documents),
burl AS (SELECT doc_id, text, m, domain, priority, path,
  'https://' || domain || path AS url, 1 AS is_base FROM base),
trp AS (SELECT doc_id, text, m, domain, priority,
  '/cal/' || doc_id::VARCHAR || '/view' AS path,
  'https://' || domain || '/cal/' || doc_id::VARCHAR || '/view?session=' || (v * 7919 + doc_id)::VARCHAR || '&page=' || v::VARCHAR || '&cal=1' AS url,
  0 AS is_base
FROM base, generate_series(1, 5) AS t(v) WHERE m IN (5, 11)),
allu AS (SELECT * FROM burl UNION ALL SELECT * FROM trp),
tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '') AS t FROM documents),
f AS (SELECT doc_id, list_concat(t, list_transform(generate_series(1, len(t) - 1), i -> t[i] || '_' || t[i + 1])) AS feats FROM tk),
kp AS (SELECT doc_id, CASE WHEN coalesce(list_sum(list_transform(feats, x ->
    ((('0x' || substr(md5(x), 1, 8))::BIGINT % 4096) * 2654435761) % 2003 - 1001)), 0) > 0 THEN 1 ELSE 0 END AS keep FROM f),
uu AS (SELECT a.doc_id, a.m, a.domain, a.priority, a.path, a.url, a.is_base, kp.keep,
  CASE WHEN contains(a.url, '?') THEN len(string_split(regexp_extract(a.url, '\?(.*)$$', 1), '&')) ELSE 0 END AS n_params,
  sha256(a.text) AS digest,
  CASE WHEN regexp_matches(lower(a.url), '(^|[/.\-_?=&])casino([/.\-_?=&]|$$)') THEN 'casino'
       WHEN regexp_matches(lower(a.url), '(^|[/.\-_?=&])viagra([/.\-_?=&]|$$)') THEN 'viagra'
       WHEN regexp_matches(lower(a.url), '(^|[/.\-_?=&])xxx([/.\-_?=&]|$$)') THEN 'xxx'
       WHEN regexp_matches(lower(a.url), '(^|[/.\-_?=&])poker([/.\-_?=&]|$$)') THEN 'poker'
       ELSE 'clean' END AS spam_class
FROM allu a JOIN kp ON a.doc_id = kp.doc_id),
dom AS (SELECT domain,
  ((sum(keep * is_base) + 1) * 1000000) // (sum(is_base) + 2) AS prior_ppm,
  (count(DISTINCT url) * 1000) // count(DISTINCT digest) AS upc,
  (sum(n_params)::BIGINT * 1000) // count(*) AS pmu
FROM uu GROUP BY domain),
dm AS (SELECT domain, prior_ppm, CASE WHEN upc >= 3000 AND pmu >= 2000 THEN 1 ELSE 0 END AS is_trap FROM dom),
rob AS (SELECT DISTINCT domain, m,
  'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) || 'Allow: /private/ok' || chr(10) || 'Disallow: /tmp' || chr(10) || 'Disallow: /dup' || chr(10) || 'Allow: /dup' || chr(10) ||
  'Disallow: /article/*7$$' || chr(10) || 'Allow: /tmp/x$$' || chr(10) ||
  CASE WHEN m % 3 = 0 THEN chr(10) || 'User-agent: graftbot' || chr(10) || 'Disallow: /p/9' || chr(10) || 'Allow: /p' || chr(10) || 'Disallow: /article/*9$$' || chr(10) ELSE '' END AS txt
FROM base),
lines AS (SELECT domain, unnest(range(1, len(string_split(txt, chr(10))) + 1)) AS ln, unnest(string_split(txt, chr(10))) AS line FROM rob),
fl AS (SELECT domain, ln, line, lower(trim(line)) AS lline FROM lines),
fl2 AS (SELECT *, starts_with(lline, 'user-agent:') AS is_ua,
  (starts_with(lline, 'allow:') OR starts_with(lline, 'disallow:')) AS is_rule FROM fl),
fl3 AS (SELECT *, coalesce(lag(is_ua) OVER (PARTITION BY domain ORDER BY ln), false) AS prev_ua FROM fl2),
g AS (SELECT *, sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END) OVER (PARTITION BY domain ORDER BY ln ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM fl3),
ag AS (SELECT domain, grp, trim(regexp_replace(lline, '^user-agent:\s*', '')) AS agent FROM g WHERE is_ua),
ru AS (SELECT domain, grp,
  CASE WHEN starts_with(lline, 'allow:') THEN 1 ELSE 0 END AS allow,
  trim(regexp_replace(line, '(?i)^\s*(allow|disallow):\s*', '')) AS rpath
  FROM g WHERE is_rule),
rr AS (SELECT ru.domain, ag.agent, ru.allow, ru.rpath FROM ru JOIN ag USING (domain, grp) WHERE ru.rpath <> ''),
spec AS (SELECT DISTINCT domain FROM ag WHERE agent = 'graftbot'),
eff AS (SELECT rr.domain, rr.allow, rr.rpath FROM rr LEFT JOIN spec ON rr.domain = spec.domain
  WHERE CASE WHEN spec.domain IS NOT NULL THEN rr.agent = 'graftbot' ELSE rr.agent = '*' END),
eff2 AS (SELECT domain, allow, rpath, strlen(rpath) AS l,
  (contains(rpath, '*') OR rpath LIKE '%$$') AS is_pat,
  '^' || replace(regexp_replace(
      CASE WHEN rpath LIKE '%$$' THEN substr(rpath, 1, length(rpath) - 1) ELSE rpath END,
      '([.\\+?\[\](){}^$$|])', '\\\1', 'g'), '*', '.*')
    || CASE WHEN rpath LIKE '%$$' THEN '$$' ELSE '' END AS rx
FROM eff),
mt AS (SELECT u.url, e.allow, e.l
  FROM uu u JOIN eff2 e ON u.domain = e.domain
   AND CASE WHEN e.is_pat THEN regexp_matches(u.path, e.rx) ELSE starts_with(u.path, e.rpath) END),
win AS (SELECT url, allow, l, row_number() OVER (PARTITION BY url ORDER BY l DESC, allow DESC) AS rn FROM mt),
gated AS (SELECT uu.doc_id, uu.url, uu.domain, uu.priority, dm.prior_ppm
  FROM uu JOIN dm ON uu.domain = dm.domain
  LEFT JOIN (SELECT url, allow FROM win WHERE rn = 1) w ON uu.url = w.url
  WHERE uu.is_base = 1 AND coalesce(w.allow, 1) = 1 AND uu.spam_class = 'clean'
    AND dm.is_trap = 0 AND (uu.keep = 1 OR dm.prior_ppm >= 700000))
SELECT doc_id, url, domain, priority, prior_ppm::BIGINT AS prior_ppm,
  row_number() OVER (PARTITION BY domain ORDER BY priority DESC, doc_id)::BIGINT AS wave
FROM gated ORDER BY doc_id""",

    // q300: q289's robots replay + the group-scoped crawl-delay parse,
    // the UA-run group-presence election (a delay-only graftbot group
    // suppresses `*` wholesale), the 1000 ms default, and the
    // exact-millisecond pacing arithmetic
    "q300_frontier_pacing" ->
      raw"""WITH d AS (SELECT doc_id, doc_id % 37 AS m,
  'site' || (doc_id % 37)::VARCHAR || '.com' AS domain,
  CASE (doc_id % 5)
    WHEN 0 THEN '/p/' || doc_id::VARCHAR
    WHEN 1 THEN '/private/a' || doc_id::VARCHAR
    WHEN 2 THEN '/private/ok/' || doc_id::VARCHAR
    WHEN 3 THEN '/tmp/x'
    ELSE '/dup/z' END AS path,
  ((doc_id * 37 + 11) % 100)::BIGINT AS priority
FROM documents),
rob AS (SELECT DISTINCT domain, m,
  'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) || 'Allow: /private/ok' || chr(10) || 'Disallow: /tmp' || chr(10) || 'Disallow: /dup' || chr(10) || 'Allow: /dup' || chr(10) ||
  CASE WHEN m % 4 <> 3 THEN 'Crawl-delay: ' || (2 + m % 4)::VARCHAR || chr(10) ELSE '' END ||
  CASE WHEN m % 3 = 0 THEN chr(10) || 'User-agent: graftbot' || chr(10) || 'Disallow: /p/9' || chr(10) || 'Allow: /p' || chr(10) ||
    CASE WHEN m % 2 = 0 THEN 'Crawl-delay: 0.5' || chr(10) ELSE '' END
  WHEN m % 3 = 1 THEN chr(10) || 'User-agent: graftbot' || chr(10) || 'Crawl-delay: 3' || chr(10)
  ELSE '' END AS txt
FROM d),
lines AS (SELECT domain, unnest(range(1, len(string_split(txt, chr(10))) + 1)) AS ln, unnest(string_split(txt, chr(10))) AS line FROM rob),
fl AS (SELECT domain, ln, line, lower(trim(line)) AS lline FROM lines),
fl2 AS (SELECT *, starts_with(lline, 'user-agent:') AS is_ua,
  (starts_with(lline, 'allow:') OR starts_with(lline, 'disallow:')) AS is_rule FROM fl),
fl3 AS (SELECT *, coalesce(lag(is_ua) OVER (PARTITION BY domain ORDER BY ln), false) AS prev_ua FROM fl2),
g AS (SELECT *, sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END) OVER (PARTITION BY domain ORDER BY ln ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM fl3),
ag AS (SELECT domain, grp, trim(regexp_replace(lline, '^user-agent:\s*', '')) AS agent FROM g WHERE is_ua),
ru AS (SELECT domain, grp,
  CASE WHEN starts_with(lline, 'allow:') THEN 1 ELSE 0 END AS allow,
  trim(regexp_replace(line, '(?i)^\s*(allow|disallow):\s*', '')) AS rpath
  FROM g WHERE is_rule),
rr AS (SELECT ru.domain, ag.agent, ru.allow, ru.rpath FROM ru JOIN ag USING (domain, grp) WHERE ru.rpath <> ''),
spec AS (SELECT DISTINCT domain FROM ag WHERE agent = 'graftbot'),
eff AS (SELECT rr.domain, rr.allow, rr.rpath FROM rr LEFT JOIN spec ON rr.domain = spec.domain
  WHERE CASE WHEN spec.domain IS NOT NULL THEN rr.agent = 'graftbot' ELSE rr.agent = '*' END),
cd AS (SELECT g.domain, ag.agent,
  (trim(regexp_replace(g.lline, '^crawl-delay:\s*', ''))::DOUBLE * 1000)::BIGINT AS delay_ms
FROM g JOIN ag USING (domain, grp) WHERE starts_with(g.lline, 'crawl-delay:')),
effd AS (SELECT cd.domain, min(cd.delay_ms) AS delay_ms FROM cd LEFT JOIN spec ON cd.domain = spec.domain
  WHERE CASE WHEN spec.domain IS NOT NULL THEN cd.agent = 'graftbot' ELSE cd.agent = '*' END
  GROUP BY cd.domain),
mt AS (SELECT d.doc_id, e.allow, length(e.rpath) AS l
  FROM d JOIN eff e ON d.domain = e.domain AND starts_with(d.path, e.rpath)),
win AS (SELECT doc_id, allow, l, row_number() OVER (PARTITION BY doc_id ORDER BY l DESC, allow DESC) AS rn FROM mt),
ok AS (SELECT d.doc_id, d.domain, d.priority
  FROM d LEFT JOIN (SELECT doc_id, allow FROM win WHERE rn = 1) w USING (doc_id)
  WHERE coalesce(w.allow, 1) = 1),
wv AS (SELECT doc_id, domain, priority,
  row_number() OVER (PARTITION BY domain ORDER BY priority DESC, doc_id)::BIGINT AS wave
FROM ok)
SELECT wv.doc_id, wv.domain, wv.priority, wv.wave,
  coalesce(effd.delay_ms, 1000)::BIGINT AS delay_ms,
  ((wv.wave - 1) * coalesce(effd.delay_ms, 1000))::BIGINT AS fetch_offset_ms
FROM wv LEFT JOIN effd ON wv.domain = effd.domain
ORDER BY wv.doc_id""",

    // q301: BOTH edge kinds rebuilt closed-form (http Location + meta
    // refresh), then the RESOLUTION REPLAYED — three hop joins with the
    // pre-step chain-containment loop flag, the truncation probe, the
    // first-hop kind, and the final-status join
    "q301_redirect_chains" ->
      """WITH d AS (SELECT doc_id, doc_id % 4 AS k, 'https://site' || (doc_id % 37)::VARCHAR || '.com' AS h FROM documents),
resp AS (
  SELECT h || '/p/' || doc_id::VARCHAR AS url, 200 AS status, '' AS loc FROM d
  UNION ALL SELECT h || '/mm/' || doc_id::VARCHAR, 200, '' FROM d WHERE k = 0
  UNION ALL SELECT h || '/m/' || doc_id::VARCHAR, 200, '' FROM d WHERE k = 1
  UNION ALL SELECT h || '/a/' || doc_id::VARCHAR, 301, h || '/p/' || doc_id::VARCHAR FROM d WHERE k = 1
  UNION ALL SELECT h || '/b/' || doc_id::VARCHAR, 302, h || '/a2/' || doc_id::VARCHAR FROM d WHERE k = 2
  UNION ALL SELECT h || '/a2/' || doc_id::VARCHAR, 301, h || '/p/' || doc_id::VARCHAR FROM d WHERE k = 2
  UNION ALL SELECT h || '/x/' || doc_id::VARCHAR, 302, h || '/y/' || doc_id::VARCHAR FROM d WHERE k = 3
  UNION ALL SELECT h || '/y/' || doc_id::VARCHAR, 302, h || '/x/' || doc_id::VARCHAR FROM d WHERE k = 3),
e AS (SELECT url AS src, loc AS dst, 'http' AS kind FROM resp WHERE status >= 300 AND status < 400 AND loc <> ''
  UNION ALL SELECT h || '/mm/' || doc_id::VARCHAR, h || '/p/' || doc_id::VARCHAR, 'meta' FROM d WHERE k = 0
  UNION ALL SELECT h || '/m/' || doc_id::VARCHAR, h || '/a/' || doc_id::VARCHAR, 'meta' FROM d WHERE k = 1),
s0 AS (SELECT url AS start_url, url AS cur, 0 AS n, [url] AS chain, false AS lp FROM resp),
s1 AS (SELECT start_url,
  CASE WHEN e.dst IS NOT NULL AND NOT lp THEN e.dst ELSE cur END AS cur,
  CASE WHEN e.dst IS NOT NULL AND NOT lp THEN n + 1 ELSE n END AS n,
  CASE WHEN e.dst IS NOT NULL AND NOT lp THEN list_append(chain, e.dst) ELSE chain END AS chain,
  lp OR (e.dst IS NOT NULL AND NOT lp AND list_contains(chain, e.dst)) AS lp
FROM s0 LEFT JOIN e ON s0.cur = e.src),
s2 AS (SELECT start_url,
  CASE WHEN e.dst IS NOT NULL AND NOT lp THEN e.dst ELSE cur END AS cur,
  CASE WHEN e.dst IS NOT NULL AND NOT lp THEN n + 1 ELSE n END AS n,
  CASE WHEN e.dst IS NOT NULL AND NOT lp THEN list_append(chain, e.dst) ELSE chain END AS chain,
  lp OR (e.dst IS NOT NULL AND NOT lp AND list_contains(chain, e.dst)) AS lp
FROM s1 LEFT JOIN e ON s1.cur = e.src),
s3 AS (SELECT start_url,
  CASE WHEN e.dst IS NOT NULL AND NOT lp THEN e.dst ELSE cur END AS cur,
  CASE WHEN e.dst IS NOT NULL AND NOT lp THEN n + 1 ELSE n END AS n,
  CASE WHEN e.dst IS NOT NULL AND NOT lp THEN list_append(chain, e.dst) ELSE chain END AS chain,
  lp OR (e.dst IS NOT NULL AND NOT lp AND list_contains(chain, e.dst)) AS lp
FROM s2 LEFT JOIN e ON s2.cur = e.src),
fin AS (SELECT start_url, s3.cur AS final_url, n::BIGINT AS n_hops,
  CASE WHEN lp THEN 'loop' WHEN e.dst IS NOT NULL THEN 'truncated' ELSE 'resolved' END AS chain_status
FROM s3 LEFT JOIN e ON s3.cur = e.src),
fk AS (SELECT s0.start_url, coalesce(e.kind, '') AS first_kind FROM s0 LEFT JOIN e ON s0.cur = e.src)
SELECT f.start_url, f.final_url, f.n_hops, f.chain_status,
  coalesce(r.status, 0)::BIGINT AS final_status, fk.first_kind
FROM fin f LEFT JOIN resp r ON f.final_url = r.url JOIN fk ON f.start_url = fk.start_url
ORDER BY f.start_url""",

    // q302: the census replayed closed-form — the page length is exact
    // (entity-escaped fixture html), decodable classes (zstd included,
    // round 15) count DECODED bytes, the corrupt-gzip/corrupt-zstd
    // classes count their raw (magic + page) bytes
    "q302_encoding_census" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS k,
  octet_length(encode('<html><head><title>Doc ' || doc_id::VARCHAR || '</title></head><body><h1>Doc ' || doc_id::VARCHAR || '</h1><p>' || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') || '</p></body></html>')) AS blen
FROM documents),
c AS (SELECT
  CASE k WHEN 0 THEN '' WHEN 1 THEN 'gzip' WHEN 2 THEN 'x-gzip' WHEN 3 THEN 'deflate'
    WHEN 4 THEN 'br;undecoded' WHEN 5 THEN 'zstd' WHEN 6 THEN 'gzip;undecoded'
    ELSE 'zstd;undecoded' END AS content_encoding,
  CASE WHEN k = 6 THEN blen + 2 WHEN k = 7 THEN blen + 4 ELSE blen END AS plen
FROM d)
SELECT content_encoding, count(*)::BIGINT AS n_responses, sum(plen)::BIGINT AS n_payload_bytes,
  CASE WHEN content_encoding LIKE '%;undecoded' THEN 1 ELSE 0 END AS undecoded
FROM c GROUP BY content_encoding ORDER BY content_encoding""",
  )
}
