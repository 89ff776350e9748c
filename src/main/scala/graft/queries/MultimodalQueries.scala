package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TextOps

import Shared._

/** Multimodal plumbing. */
object MultimodalQueries {

  /** Deterministic URL corpus for the domain-curation lane: a 7-host
    * table keyed by doc_id mod 7, a 20-doc path bucket (so
    * canonicalization dedup has real collisions: ids congruent mod 7
    * inside one bucket share a canonical URL), a unique ?id= query
    * param, tracking params on every third doc, a fragment on every
    * fifth — all pure column arithmetic the oracle replays. */
  private def urlTable(s: SparkSession, d: String): DataFrame = {
    val hosts = Seq("example.com", "news.example.co.uk",
      "blog.spam.net", "en.wikipedia.org", "docs.python.org",
      "ads.tracker.io", "forum.example.com")
    val host0 = element_at(array(hosts.map(lit): _*),
      (pmod(col("doc_id"), lit(7)) + 1).cast("int"))
    t(s, d, "documents").withColumn("url", concat(
      lit("https://"), host0, lit("/p/"),
      ops.DedupOps.idiv(col("doc_id"), lit(20L)).cast("string"),
      lit("?id="), col("doc_id").cast("string"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("&utm_source=feed&utm_campaign=x")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("#frag"))
        .otherwise(lit(""))))
  }

  /** DuckDB mirror of the stub perceptual-hash near-dup summary: the
    * payload is the text's UTF-8 bytes, so the 64 sampled "pixels"
    * extract from the hex-encoded blob (byte at floor(i·len/64),
    * byte-exact even for multibyte text), the mean threshold packs
    * into a BIGINT (bit 63 via the most-negative-long addition — a
    * 1<<63 literal overflows), and the 4×16-bit banded-Hamming tail
    * replays with arithmetic-shift-then-mask (== unsigned shift under
    * the 16-bit mask), xor + bit_count verification. */
  private lazy val phashOracleSql: String =
    """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
      |            octet_length(encode(text)) AS len FROM documents),
      |px AS (SELECT doc_id, i,
      |  CASE WHEN len = 0 THEN 0
      |       ELSE ('0x' || substr(hx, 2*((i*len)//64) + 1, 2))::INT
      |  END AS p
      |  FROM b, LATERAL unnest(generate_series(0, 63)) t(i)),
      |pm AS (SELECT doc_id, i, p,
      |  avg(p) OVER (PARTITION BY doc_id) AS mean FROM px),
      |ph AS (SELECT doc_id,
      |  cast(sum(CASE WHEN p > mean AND i < 63
      |                THEN (1::BIGINT << i) ELSE 0 END) as BIGINT)
      |  + CASE WHEN max(CASE WHEN i = 63 AND p > mean
      |                       THEN 1 ELSE 0 END) = 1
      |         THEN (-9223372036854775808)::BIGINT ELSE 0 END AS phash
      |  FROM pm GROUP BY doc_id),
      |band AS (SELECT doc_id, bb AS band_id,
      |  (phash >> (bb*16)) & 65535 AS band_val
      |  FROM ph, LATERAL unnest(generate_series(0, 3)) t(bb)),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM band x JOIN band y
      |    ON x.band_id = y.band_id AND x.band_val = y.band_val
      |   AND x.doc_id < y.doc_id),
      |near AS (SELECT c.a, c.b FROM cand c
      |  JOIN ph pa ON pa.doc_id = c.a
      |  JOIN ph pb ON pb.doc_id = c.b
      |  WHERE bit_count(xor(pa.phash, pb.phash)) <= 3),
      |sym AS (SELECT a AS id FROM near
      |        UNION ALL SELECT b AS id FROM near),
      |cnt AS (SELECT id, count(*) AS n FROM sym GROUP BY id)
      |SELECT p.doc_id, p.phash,
      |  cast(coalesce(c.n, 0) as bigint) AS n_near
      |FROM ph p LEFT JOIN cnt c ON c.id = p.doc_id
      |ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the stub feature extractor: Hash64 (FNV-1a with
    * a seed-mixed initial state + the splitmix64 finalizer — wrapping
    * 64-bit multiplies emulated via [[sqlWrapMul]], unsigned shifts
    * via shift-and-mask) replayed per (doc, lane) with a recursive CTE
    * walking the payload bytes, then the exact unit-norm arithmetic:
    * v = float(hash / Long.MaxValue), norm = sqrt of the lane-ordered
    * double square sum, f0 = float(v0 / norm) rounded to 4dp. */
  private lazy val featuresOracleSql: String = {
    val FnvPrime = 0x100000001b3L
    val Gold = 0x9e3779b97f4a7c15L
    val C1 = 0xbf58476d1ce4e5b9L
    val C2 = 0x94d049bb133111ebL
    val FnvOffset = 0xcbf29ce484222325L // -3750763034362895579 signed
    val initH = s"xor(${FnvOffset}::BIGINT, " +
      s"${sqlWrapMul("(lane+1)::BIGINT", Gold)})"
    val stepH = sqlWrapMul(
      "xor(r.h, ('0x' || substr(b.hx, 2*r.pos + 1, 2))::BIGINT)",
      FnvPrime)
    val mix1 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 30)})", C1)
    val mix2 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 27)})", C2)
    s"""WITH RECURSIVE
       |b AS (SELECT doc_id, hex(encode(text)) AS hx,
       |        octet_length(encode(text)) AS len FROM documents),
       |lanes AS (SELECT unnest(generate_series(0, 15)) AS lane),
       |rec(doc_id, lane, pos, h) AS (
       |  SELECT b.doc_id, lanes.lane, 0, $initH
       |  FROM b CROSS JOIN lanes
       |  UNION ALL
       |  SELECT r.doc_id, r.lane, r.pos + 1, $stepH
       |  FROM rec r JOIN b ON b.doc_id = r.doc_id
       |  WHERE r.pos < b.len),
       |fin AS (SELECT r.doc_id, r.lane, r.h
       |        FROM rec r JOIN b ON b.doc_id = r.doc_id
       |        WHERE r.pos = b.len),
       |m1 AS (SELECT doc_id, lane, $mix1 AS h FROM fin),
       |m2 AS (SELECT doc_id, lane, $mix2 AS h FROM m1),
       |hv AS (SELECT doc_id, lane,
       |  CAST(xor(h, ${sqlUshr("h", 31)})::DOUBLE /
       |    9223372036854775807::DOUBLE AS FLOAT) AS v FROM m2),
       |vl AS (SELECT doc_id, list(v::DOUBLE ORDER BY lane) AS vs
       |       FROM hv GROUP BY doc_id),
       |nm AS (SELECT doc_id, vs,
       |  sqrt(list_sum(list_transform(vs, x -> x * x))) AS norm
       |  FROM vl)
       |SELECT doc_id,
       |  CASE WHEN norm = 0.0 THEN round(CAST(vs[1] AS FLOAT), 4)
       |       ELSE round(CAST(vs[1] / norm AS FLOAT), 4) END AS f0,
       |  16::BIGINT AS dim
       |FROM nm ORDER BY doc_id""".stripMargin
  }

  /** Crawl-link-graph PageRank replay: the SAME unrolled rounds as
    * [[pagerankOracleSql]] over the planted outlink arithmetic (src →
    * (src + {1,7,49}) mod n for the first 1 + src mod 3 offsets) —
    * every doc has outdegree ≥ 1, so the graph is dangling-free and
    * the standard update is exact. */
  private def linkRankOracleSql(iters: Int): String =
    s"""WITH p AS (SELECT count(*) AS nn FROM documents),
       |e AS (
       |  SELECT doc_id AS src,
       |    (doc_id + o.off) % (SELECT nn FROM p) AS dst
       |  FROM documents, (VALUES (0, 1), (1, 7), (2, 49)) AS o(k, off)
       |  WHERE 1 + doc_id % 3 > o.k),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
       |params AS (SELECT count(*) AS n,
       |    1000000000000000 // count(*) AS r_init,
       |    (15 * (1000000000000000 // count(*))) // 100 AS base
       |  FROM nodes),
       |r0 AS (SELECT node, (SELECT r_init FROM params) AS rank_f
       |       FROM nodes),
       |${pagerankRoundsSql(iters)}
       |SELECT node, round(rank_f / 1000000000000000.0, 6) AS rank
       |FROM r$iters
       |ORDER BY rank_f DESC, node LIMIT 20""".stripMargin

    // Replays the constant-block generator: w/h from the first two
    // codepoints (multiples of 16), block b flat gray
    // (s0 + 17·b) mod 256, px_sum = 192·Σ block values (64 pixels ×
    // 3 channels per block). A match certifies the WHOLE baseline
    // decode chain — Huffman DC deltas, dequant, IDCT, 4:2:0
    // upsample, color convert — reproduced every pixel.
  private lazy val multimodalJpegSql: String =
    """WITH sz AS (
      |  SELECT doc_id,
      |    (ascii(substr(text, 1, 1)) % 4 + 1) * 16 AS w,
      |    (ascii(substr(text, 2, 1)) % 4 + 1) * 16 AS h,
      |    (ascii(substr(text, 1, 1)) * 7 +
      |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
      |  FROM documents),
      |px AS (
      |  SELECT doc_id,
      |    cast(sum(192 * ((s0 + 17 * b) % 256)) as bigint) AS px_sum
      |  FROM sz,
      |    LATERAL unnest(generate_series(0, (w // 8) * (h // 8) - 1))
      |      t(b)
      |  GROUP BY doc_id)
      |SELECT sz.doc_id,
      |  cast(w as integer) AS width,
      |  cast(h as integer) AS height,
      |  'jpeg' AS format,
      |  px.px_sum
      |FROM sz JOIN px USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  val all: Seq[Query] = Seq(
    // Batch decode over a binary media column (Dataset mapPartitions —
    // the Scala analogue of mapInPandas). As of round 11 the decode is
    // a REAL pure-JVM codec (graft.ops.ImageCodec: binary PPM + 24-bit
    // BMP) over imageTable's real encoded payloads; the oracle replays
    // the deterministic image generator and certifies the parsed
    // headers, container framing (n_bytes) and full pixel plane
    // (px_sum) cross-engine.
    // Frame-offset sampling over a "video" payload: pure column math on
    // the binary length (no decode needed for planning-level ops).
    Query("multimodal_frames", (s, d) => {
      ops.Multimodal.mediaTable(t(s, d, "documents"))
        .select(col("doc_id"),
          size(ops.Multimodal.frameOffsets(col("content"), 10, 5))
            .cast("bigint").as("n_frames"))
        .orderBy(col("doc_id"))
    },
      // n_frames = |slice(sequence(0, len-1, 10), 1, 5)| =
      // least(5, floor((len-1)/10) + 1) for len >= 1.
      Sql(
      """SELECT doc_id,
        |  least(5, (strlen(text) - 1) // 10 + 1) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Query("multimodal_decode", (s, d) => {
      ops.Multimodal.decodeAll(s,
        ops.Multimodal.imageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("n_bytes"), col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // Replays the imageTable generator (dims from the first two text
      // codepoints, pixel byte i = (cp0*7+cp1*13+31i) mod 256, PPM for
      // even cp0 / BMP for odd) and certifies what the REAL codec parsed
      // back: header dims, sniffed format, container byte length (PPM
      // ASCII header + plane; BMP 54-byte headers + padded bottom-up
      // rows), and the full decoded pixel plane as px_sum.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) AS cp0,
        |    ascii(substr(text, 2, 1)) AS cp1,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * i) % 256) as bigint) AS px_sum
        |  FROM sz, LATERAL unnest(generate_series(0, w * h * 3 - 1)) t(i)
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(w as integer) AS width,
        |  cast(h as integer) AS height,
        |  CASE WHEN cp0 % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS format,
        |  cast(CASE WHEN cp0 % 2 = 0
        |       THEN 9 + strlen(cast(w as varchar))
        |            + strlen(cast(h as varchar)) + w * h * 3
        |       ELSE 54 + h * (w * 3 + (4 - (w * 3) % 4) % 4) END
        |    as bigint) AS n_bytes,
        |  px.px_sum
        |FROM sz JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ★ r11: compressed-blob TEXT ingestion — the `.jsonl.gz` shape
    // real corpora arrive in: documents stored as opaque gzip
    // payloads (even ids are TWO concatenated members, the
    // block-parallel-compressor layout a first-trailer-stops decoder
    // silently truncates), decompressed with per-member CRC-32/ISIZE
    // verification in the partition-wise slot. Witnesses (byte
    // length + MD5 of the decompressed bytes) are replayed by the
    // oracle from the ORIGINAL text — a match certifies byte-exact
    // recovery through compression, concatenation, and decompression.
    Query("source_gzip", (s, d) => {
      ops.CompressedOps.gunzipAll(s,
        ops.CompressedOps.gzipTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("n_raw"), col("text_md5"))
        .orderBy(col("doc_id"))
    },
      // The witnesses come from the ORIGINAL text (DuckDB never sees
      // the gzip bytes): byte length + MD5 over the UTF-8 encoding —
      // equality certifies the Spark side recovered the exact bytes
      // through the multi-member gzip round trip.
      Sql(
      """SELECT doc_id,
        |  cast(strlen(text) as bigint) AS n_raw,
        |  md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ★ r11: tar SHARD reading — the WebDataset container: each doc
    // is a real POSIX ustar archive holding the member pair
    // <id>.txt + <id>.ppm (ops.TarCodec: verified header checksums,
    // octal size parsing, 512-byte padding, required end blocks),
    // and the image member is then decoded by the INNER codec — the
    // two-layer walk a multimodal shard reader performs. The oracle
    // replays the layout arithmetic (tar_bytes: headers + padded
    // members + end blocks), the text digest, and the decoded pixel
    // plane of the image member.
    Query("source_tar", (s, d) => {
      ops.Multimodal.decodeTarAll(s,
        ops.Multimodal.tarShardTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("n_members"), col("tar_bytes"),
          col("txt_md5"), col("img_px"))
        .orderBy(col("doc_id"))
    },
      // Replays the ustar layout arithmetic (two 512-byte headers +
      // each member padded to 512 + two end blocks), the text digest,
      // and the image generator's pixel plane — tar walk and inner
      // image decode certified in one row.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id, text,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * i) % 256) as bigint) AS px_sum
        |  FROM sz, LATERAL unnest(generate_series(0, w * h * 3 - 1)) t(i)
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(2 as bigint) AS n_members,
        |  cast(1024 + 1024
        |    + ((strlen(text) + 511) // 512) * 512
        |    + ((9 + strlen(cast(w as varchar)) + strlen(cast(h as varchar))
        |        + w * h * 3 + 511) // 512) * 512
        |    as bigint) AS tar_bytes,
        |  md5(text) AS txt_md5,
        |  px.px_sum AS img_px
        |FROM sz JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ★ r12: WARC ingestion — Common Crawl's actual container: per
    // doc a `.warc.gz` file of three WARC/1.1 records (warcinfo /
    // request / response), EACH its own gzip member (the
    // member-per-record crawl layout), decompressed by the existing
    // RFC 1952 member walk and then parsed by the real record
    // grammar (version line, header block, Content-Length body,
    // CRLF CRLF separators — ops.WarcOps.parseRecords, fail-loud on
    // framing disagreement). WARC-Type dispatch is certified: the
    // oracle replays each record type's block length from the
    // original row (the fixed warcinfo block, the deterministic
    // 41+strlen(id) HTTP request, the text response with its MD5)
    // plus the response's target URI.
    Query("source_warc", (s, d) => {
      ops.WarcOps.readWarcAll(s,
        ops.WarcOps.warcTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("n_records"), col("info_len"),
          col("req_len"), col("resp_len"), col("resp_md5"),
          col("target_uri"))
        .orderBy(col("doc_id"))
    },
      // Replays every record type's witnesses from the original row:
      // the warcinfo block is a 47-byte constant, the request block is
      // the deterministic HTTP GET (41 + strlen(id) ASCII bytes), the
      // response block is the doc text (length + MD5), and the target
      // URI is pure concatenation — so a match certifies the gzip
      // member walk, the record framing, AND the WARC-Type dispatch
      // recovered all three bodies byte-exactly.
      Sql(
      """SELECT doc_id,
        |  cast(3 as bigint) AS n_records,
        |  cast(47 as bigint) AS info_len,
        |  cast(41 + strlen(cast(doc_id as varchar)) as bigint)
        |    AS req_len,
        |  cast(strlen(text) as bigint) AS resp_len,
        |  md5(text) AS resp_md5,
        |  'https://example.com/doc/' || cast(doc_id as varchar)
        |    AS target_uri
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ★ r12: MULTI-DOCUMENT WARC files — the real crawl unit of work
    // (Common Crawl ships ~1 GB files of thousands of captures): 50
    // docs per file, ONE warcinfo record then a request+response
    // pair per doc, every record its own gzip member. The reader
    // walks one FILE per row and EXPLODES to per-capture rows,
    // deriving each doc id from the record's own WARC-Target-URI —
    // the container is the source of truth, not a side channel — and
    // enforcing the file grammar (warcinfo first, request/response
    // pair discipline, URI match). The oracle replays the grouping
    // arithmetic, the per-file record count, and the byte-exact
    // response witnesses.
    Query("source_warc_files", (s, d) => {
      ops.WarcOps.readWarcFilesAll(s,
        ops.WarcOps.warcFileTable(s, t(s, d, "documents"),
          docsPerFile = 50))
        .toDF()
        .select(col("doc_id"), col("file_id"), col("n_file_records"),
          col("resp_len"), col("resp_md5"))
        .orderBy(col("doc_id"))
    },
      // Replays the multi-doc file grouping (doc_id div 50), each
      // file's record count (1 warcinfo + 2 per doc), and the
      // byte-exact response witnesses — certifying the per-file
      // explode recovered every capture under the enforced grammar.
      Sql(
      """WITH f AS (
        |  SELECT doc_id, text, doc_id // 50 AS file_id
        |  FROM documents),
        |c AS (SELECT file_id, count(*) AS n FROM f GROUP BY file_id)
        |SELECT f.doc_id, f.file_id,
        |  cast(1 + 2 * c.n as bigint) AS n_file_records,
        |  cast(strlen(text) as bigint) AS resp_len,
        |  md5(text) AS resp_md5
        |FROM f JOIN c USING (file_id)
        |ORDER BY doc_id""".stripMargin)),

    // ★ r13: URL/domain profiling — the curation signals a crawl
    // pipeline keys on (host, reversed-host for prefix range scans,
    // TLD, registered domain with a public-suffix-style multi-label
    // rule for .co.uk). URLs are built deterministically from doc_id
    // arithmetic over a 7-host table and then PARSED with Spark's
    // parse_url (HOST/PATH/QUERY — fragment excluded from QUERY); the
    // oracle replays every witness from the arithmetic, so a match
    // certifies the parser and the domain decompositions. Pure
    // scan-side column work — the 100 TB shape for per-URL features.
    Query("q_url_profile", (s, d) => {
      val labels = split(col("host"), "\\.")
      urlTable(s, d)
        .withColumn("host", expr("parse_url(url, 'HOST')"))
        .withColumn("url_path", expr("parse_url(url, 'PATH')"))
        .withColumn("url_query", expr("parse_url(url, 'QUERY')"))
        .withColumn("reversed_host",
          concat_ws(".", reverse(labels)))
        .withColumn("tld", element_at(labels, -1))
        .withColumn("reg_domain",
          when(col("host").endsWith(".co.uk"),
            concat_ws(".", slice(labels, size(labels) - lit(2), lit(3))))
            .otherwise(
              concat_ws(".", slice(labels, size(labels) - lit(1),
                lit(2)))))
        .select(col("doc_id"), col("host"), col("url_path"),
          col("url_query"), col("reversed_host"), col("tld"),
          col("reg_domain"))
        .orderBy(col("doc_id"))
    },
      // Replays every URL witness from the 7-host arithmetic: host by
      // doc_id mod 7, path bucket doc_id // 20, the query string with
      // its conditional tracking params (fragment excluded from QUERY),
      // the label reversal, the naive TLD, and the registered domain
      // with the .co.uk multi-label rule — certifying Spark's parse_url
      // and the domain decompositions against ground truth.
      Sql(
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE doc_id % 7
        |      WHEN 0 THEN 'example.com' WHEN 1 THEN 'news.example.co.uk'
        |      WHEN 2 THEN 'blog.spam.net' WHEN 3 THEN 'en.wikipedia.org'
        |      WHEN 4 THEN 'docs.python.org' WHEN 5 THEN 'ads.tracker.io'
        |      ELSE 'forum.example.com' END AS host
        |  FROM documents)
        |SELECT doc_id, host,
        |  '/p/' || cast(doc_id // 20 as varchar) AS url_path,
        |  'id=' || cast(doc_id as varchar) ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN '&utm_source=feed&utm_campaign=x' ELSE '' END
        |    AS url_query,
        |  array_to_string(list_reverse(string_split(host, '.')), '.')
        |    AS reversed_host,
        |  string_split(host, '.')[-1] AS tld,
        |  CASE WHEN host LIKE '%.co.uk'
        |    THEN array_to_string(string_split(host, '.')[-3:], '.')
        |    ELSE array_to_string(string_split(host, '.')[-2:], '.') END
        |    AS reg_domain
        |FROM u ORDER BY doc_id""".stripMargin)),

    // ★ r13: domain-level curation — blocklist anti-join (broadcast:
    // the blocklist is small by nature) + URL canonicalization dedup
    // (strip query + fragment — session/tracking params — then
    // keep-lowest-id per canonical URL), rolled up per host. Only
    // (host, canonical, doc_id, n_tokens) reaches the dedup agg —
    // text never shuffles. The oracle replays the whole lane from the
    // URL arithmetic.
    Query("pipeline_domain_filter", (s, d) => {
      import s.implicits._
      val blocklist = Seq("ads.tracker.io", "blog.spam.net")
        .toDF("host")
      val parsed = urlTable(s, d)
        .withColumn("host", expr("parse_url(url, 'HOST')"))
        .withColumn("canonical",
          regexp_replace(col("url"), "[?#].*$", ""))
        .withColumn("n_tokens", TextOps.tokenCount(col("text")))
        .select(col("doc_id"), col("host"), col("canonical"),
          col("n_tokens"))
      val kept = parsed.join(broadcast(blocklist), Seq("host"),
        "left_anti")
      kept.groupBy(col("host"), col("canonical"))
        .agg(min(struct(col("doc_id"), col("n_tokens"))).as("m"),
          count(lit(1)).as("n_docs"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_canonical"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("m.n_tokens")).as("kept_tokens"))
        .orderBy(col("host"))
    },
      // Replays the domain-curation lane end-to-end: the blocklist
      // drop, the canonical URL (query + fragment stripped), the
      // keep-lowest-id dedup inside each (host, canonical) group, and
      // the per-host rollup.
      Sql(
      """WITH u AS (
        |  SELECT doc_id,
        |    cast(len(string_split(text, ' ')) as bigint) AS n_tokens,
        |    CASE doc_id % 7
        |      WHEN 0 THEN 'example.com' WHEN 1 THEN 'news.example.co.uk'
        |      WHEN 2 THEN 'blog.spam.net' WHEN 3 THEN 'en.wikipedia.org'
        |      WHEN 4 THEN 'docs.python.org' WHEN 5 THEN 'ads.tracker.io'
        |      ELSE 'forum.example.com' END AS host
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, n_tokens, host,
        |    'https://' || host || '/p/' || cast(doc_id // 20 as varchar)
        |      AS canonical
        |  FROM u
        |  WHERE host NOT IN ('ads.tracker.io', 'blog.spam.net')),
        |c AS (
        |  SELECT host, canonical, count(*) AS n_docs,
        |    arg_min(n_tokens, doc_id) AS kept_tok
        |  FROM k GROUP BY host, canonical)
        |SELECT host, count(*) AS n_canonical,
        |  cast(sum(n_docs) as bigint) AS n_docs,
        |  cast(sum(kept_tok) as bigint) AS kept_tokens
        |FROM c GROUP BY host ORDER BY host""".stripMargin)),

    // ★ r13: charset sniff + transcode — the stage between raw crawl
    // bytes and every text gate (a real web corpus is NOT UTF-8:
    // legacy pages arrive as windows-1252 / Shift_JIS / UTF-16). The
    // generator plants all five arms (BOM'd UTF-8, cp1252, Shift_JIS,
    // UTF-16LE, plain multi-byte UTF-8), each with a non-ASCII marker
    // that PROVES the right decoder ran — the cp1252 arm's 0xE9 is an
    // SJIS lead byte whose trail is invalid, so a sloppy sniff order
    // misdetects it. The oracle replays detected labels and the
    // byte-exact UTF-8 witnesses (text || marker) from the original
    // rows, certifying the encode → sniff → decode → UTF-8 round trip.
    Query("source_charset", (s, d) => {
      ops.CharsetOps.transcodeAll(s,
        ops.CharsetOps.charsetTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("detected"), col("n_out"),
          col("out_md5"))
        .orderBy(col("doc_id"))
    },
      // Replays the planted encoding arms from doc_id arithmetic: the
      // detected label per arm and the transcoded UTF-8 witnesses as
      // text || marker (corpus text is ASCII, so every arm encodes
      // losslessly and strlen/md5 over the UTF-8 SQL literals are the
      // exact expected bytes).
      Sql(
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CASE doc_id % 5
        |      WHEN 0 THEN '' WHEN 1 THEN ' café!' WHEN 2 THEN ' 日本語'
        |      WHEN 3 THEN ' ★' ELSE ' ü' END AS marker,
        |    CASE doc_id % 5
        |      WHEN 0 THEN 'utf-8-bom' WHEN 1 THEN 'windows-1252'
        |      WHEN 2 THEN 'shift_jis' WHEN 3 THEN 'utf-16le'
        |      ELSE 'utf-8' END AS detected
        |  FROM documents)
        |SELECT doc_id, detected,
        |  cast(strlen(text || marker) as bigint) AS n_out,
        |  md5(text || marker) AS out_md5
        |FROM m ORDER BY doc_id""".stripMargin)),

    // ★ r13: the END-TO-END crawl-to-corpus composition — WARC files
    // (the real multi-document container) → HTTP message parse
    // (chunked + identity bodies, status dispatch) → HTML markup
    // strip → quality gate → exact-fingerprint dedup, declared as ONE
    // query with per-stage survivor accounting. Corpus text never
    // shuffles: the WARC+HTTP decode and the regex scoring are
    // map-shaped; only (fp, doc_id, n_tokens) travels to the dedup
    // agg and only stage counts leave the final aggregate (the
    // pipeline_full hash discipline over the real container).
    Query("pipeline_crawl_curate", (s, d) => {
      val caps = ops.WarcOps.readWarcCrawl(s,
        ops.WarcOps.warcCrawlTable(s, t(s, d, "documents"), 50)).toDF()
      val noTags = regexp_replace(col("html"), "<[^>]*>", " ")
      val decoded = regexp_replace(regexp_replace(regexp_replace(
        noTags, "&amp;", "&"), "&lt;", "<"), "&gt;", ">")
      val cleanCol = trim(regexp_replace(decoded, " +", " "))
      // one regex-heavy scoring pass, materialized: three stage
      // aggregates and the dedup branch all read the compact
      // (doc_id, status, n_tokens, quality_score, fp) table
      val scored = TextOps.quality(
          caps.withColumn("clean", cleanCol),
          col("clean"), length(col("clean")).cast("bigint"))
        .withColumn("fp", TextOps.fingerprint(col("clean")))
        .select(col("doc_id"), col("status"), col("n_tokens"),
          col("quality_score"), col("fp"))
        .localCheckpoint(true)
      val httpOk = col("status") === 200
      val qual = httpOk && (col("quality_score") >= 0.3)
      val flat = scored.agg(
        count(lit(1)).as("d1"), sum(col("n_tokens")).as("t1"),
        sum(when(httpOk, 1L).otherwise(0L)).as("d2"),
        sum(when(httpOk, col("n_tokens")).otherwise(0L)).as("t2"),
        sum(when(qual, 1L).otherwise(0L)).as("d3"),
        sum(when(qual, col("n_tokens")).otherwise(0L)).as("t3"))
      val s123 = flat.select(explode(array(
        struct(lit("1_ingest").as("stage"), col("d1").as("n_docs"),
          col("t1").as("n_tokens")),
        struct(lit("2_http_ok").as("stage"), col("d2").as("n_docs"),
          col("t2").as("n_tokens")),
        struct(lit("3_quality").as("stage"), col("d3").as("n_docs"),
          col("t3").as("n_tokens")))).as("r"))
        .select(col("r.stage"), col("r.n_docs"), col("r.n_tokens"))
      val s4 = scored.filter(qual)
        .groupBy(col("fp"))
        .agg(min(struct(col("doc_id"), col("n_tokens"))).as("m"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("m.n_tokens")).as("n_tokens"))
        .select(lit("4_dedup").as("stage"), col("n_docs"),
          col("n_tokens"))
      s123.unionByName(s4).orderBy(col("stage"))
    },
      // Replays the WHOLE crawl-to-corpus composition from the original
      // rows: the HTML wrap (text_html_strip's markup), the strip
      // expressions, the status dispatch (404s dropped at stage 2), the
      // quality gate on the STRIPPED text, and keep-lowest-id exact
      // dedup — so a match certifies WARC framing + HTTP de-chunking +
      // markup strip + gates compose end-to-end byte-exactly.
      Sql(
      s"""WITH cap AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 9 THEN 404 ELSE 200 END AS status,
         |    '<html><head><title>d</title></head><body><p>' ||
         |      regexp_replace(text, '\\. ', '.</p> <p>', 'g') ||
         |      '</p><div class="footer">&amp;copy; 2026 &lt;corp&gt;' ||
         |      '</div></body></html>' AS html
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, status, trim(regexp_replace(
         |    regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
         |      '&amp;', '&', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
         |    ' +', ' ', 'g')) AS text
         |  FROM cap),
         |scored AS (
         |  SELECT doc_id, status,
         |    ${TextOps.sql.tokenCount} AS n_tokens,
         |    round(least(1.0, ${TextOps.sql.tokenCount} / 100.0) *
         |      (1.0 - cast(${TextOps.sql.patCount(TextOps.sql.stopword)}
         |                  as double)
         |             / ${TextOps.sql.tokenCount}), 4) AS quality_score,
         |    ${TextOps.sql.fingerprint} AS fp
         |  FROM c),
         |dd AS (
         |  SELECT fp, arg_min(n_tokens, doc_id) AS nt
         |  FROM scored WHERE status = 200 AND quality_score >= 0.3
         |  GROUP BY fp)
         |SELECT '1_ingest' AS stage, count(*) AS n_docs,
         |  cast(sum(n_tokens) as bigint) AS n_tokens FROM scored
         |UNION ALL
         |SELECT '2_http_ok', count(*), cast(sum(n_tokens) as bigint)
         |FROM scored WHERE status = 200
         |UNION ALL
         |SELECT '3_quality', count(*), cast(sum(n_tokens) as bigint)
         |FROM scored WHERE status = 200 AND quality_score >= 0.3
         |UNION ALL
         |SELECT '4_dedup', count(*), cast(sum(nt) as bigint) FROM dd
         |ORDER BY stage""".stripMargin)),

    // ★ r13: HTTP message parsing inside WARC response records — real
    // crawl captures are full HTTP/1.1 responses (status line, header
    // block, often chunked transfer coding), not bare text: a reader
    // that hashes the raw block witnesses the transfer framing, not
    // the page. The generator emits real HTTP messages (even ids
    // chunked in 100-byte chunks, odd ids identity+Content-Length,
    // doc_id%10==9 are 404s) and ops.HttpOps.parseResponse recovers
    // status, headers, Content-Type charset, and the DECODED body —
    // whose MD5 the oracle replays from the original text, certifying
    // byte-exact recovery through BOTH framings.
    Query("source_warc_http", (s, d) => {
      ops.WarcOps.readWarcHttpAll(s,
        ops.WarcOps.warcHttpTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("status"), col("n_headers"),
          col("content_type"), col("charset"), col("chunked"),
          col("n_chunks"), col("body_len"), col("body_md5"))
        .orderBy(col("doc_id"))
    },
      // Replays every HTTP witness from the generator arithmetic: the
      // status dispatch (404 for doc_id%10=9), the 3-header block, the
      // Content-Type media type + charset parameter, the transfer
      // framing (even ids chunked, ceil(len/100) data chunks), and the
      // decoded body's byte length + MD5 from the ORIGINAL text — a
      // match certifies the de-chunking recovered the exact bytes.
      Sql(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 9 THEN cast(404 as bigint)
        |    ELSE cast(200 as bigint) END AS status,
        |  cast(3 as bigint) AS n_headers,
        |  'text/html' AS content_type,
        |  'utf-8' AS charset,
        |  doc_id % 2 = 0 AS chunked,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN cast(ceil(strlen(text) / 100.0) as bigint)
        |    ELSE cast(0 as bigint) END AS n_chunks,
        |  cast(strlen(text) as bigint) AS body_len,
        |  md5(text) AS body_md5
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ★ r13: WAT-style LINK EXTRACTION over the crawl container —
    // hyperlinks recovered from the decoded HTML (WARC walk → HTTP
    // de-chunk → href regex), classified internal vs off-domain, and
    // aggregated to per-doc out/in-degree — the link-based curation
    // signals (and the edge list the link graph runs on). Only
    // (doc_id, dst) longs reach the degree aggregates; HTML never
    // shuffles. The oracle replays the planted outlink arithmetic.
    Query("pipeline_crawl_links", (s, d) => {
      val caps = ops.WarcOps.readWarcCrawl(s,
        ops.WarcOps.warcLinkedCrawlTable(s, t(s, d, "documents"), 50))
        .toDF()
      val prefix = "https://example.com/doc/"
      val hrefs = caps.select(col("doc_id"),
        explode(regexp_extract_all(col("html"),
          lit("href=\"([^\"]+)\""), lit(1))).as("href"))
        .withColumn("internal", col("href").startsWith(prefix))
        .withColumn("dst",
          when(col("internal"),
            col("href").substr(lit(prefix.length + 1), lit(20))
              .cast("long")))
        .localCheckpoint(true) // the regex pass feeds both aggregates
      val out = hrefs.groupBy(col("doc_id")).agg(
        sum(when(col("internal"), 1L).otherwise(0L)).as("outdeg"),
        sum(when(!col("internal"), 1L).otherwise(0L)).as("n_external"))
      val ind = hrefs.filter(col("internal"))
        .groupBy(col("dst").as("doc_id"))
        .agg(count(lit(1)).as("indeg"))
      caps.select(col("doc_id")).join(out, Seq("doc_id"), "left")
        .join(ind, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("outdeg"), lit(0L)).as("outdeg"),
          coalesce(col("n_external"), lit(0L)).as("n_external"),
          coalesce(col("indeg"), lit(0L)).as("indeg"))
        .orderBy(col("doc_id"))
    },
      // Replays the planted outlink arithmetic: outdegree = 1 + id mod
      // 3, one off-domain link on every fourth doc, and indegree from
      // the inverted (src + offset) mod n edge relation — certifying
      // the href extraction, the internal/external classification, and
      // the target-id parse against ground truth.
      Sql(
      """WITH p AS (SELECT count(*) AS nn FROM documents),
        |docs AS (SELECT doc_id, 1 + doc_id % 3 AS nl FROM documents),
        |e AS (
        |  SELECT doc_id AS src,
        |    (doc_id + o.off) % (SELECT nn FROM p) AS dst
        |  FROM docs, (VALUES (0, 1), (1, 7), (2, 49)) AS o(k, off)
        |  WHERE nl > o.k),
        |ind AS (SELECT dst AS doc_id, count(*) AS indeg
        |        FROM e GROUP BY dst)
        |SELECT d.doc_id,
        |  cast(d.nl as bigint) AS outdeg,
        |  cast(CASE WHEN d.doc_id % 4 = 0 THEN 1 ELSE 0 END as bigint)
        |    AS n_external,
        |  cast(coalesce(ind.indeg, 0) as bigint) AS indeg
        |FROM docs d LEFT JOIN ind USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // ★ r13: PAGERANK OVER THE CRAWL LINK GRAPH — the extracted
    // internal edges feed the existing fixed-point integer PageRank
    // (ops.GraphOps: 12 rounds, one job per round, no driver-side
    // graph; the mod-n outlink structure is dangling-free so the
    // per-round dangling aggregate is structurally skipped). The
    // crawl-to-graph composition a link-quality curation pass runs;
    // the oracle replays all 12 rounds as unrolled CTEs over the
    // SAME arithmetic edge list.
    Query("pipeline_crawl_linkrank", (s, d) => {
      val caps = ops.WarcOps.readWarcCrawl(s,
        ops.WarcOps.warcLinkedCrawlTable(s, t(s, d, "documents"), 50))
        .toDF()
      val prefix = "https://example.com/doc/"
      val edges = caps.select(col("doc_id").as("src"),
        explode(regexp_extract_all(col("html"),
          lit("href=\"([^\"]+)\""), lit(1))).as("href"))
        .filter(col("href").startsWith(prefix))
        .select(col("src"),
          col("href").substr(lit(prefix.length + 1), lit(20))
            .cast("long").as("dst"))
      ops.GraphOps.pagerank(edges, "src", "dst")
        .orderBy(col("rank_f").desc, col("node"))
        .limit(20)
        .select(col("node"),
          round(col("rank_f") / 1e15, 6).as("rank"))
    },
      // crawl-link-graph PageRank: the unrolled 12-round replay over
      // the planted outlink arithmetic (dangling-free by construction)
      Sql(linkRankOracleSql(12))),

    // ★ r13: the PRODUCTION crawl decode stack — WARC walk → HTTP
    // parse → DECLARED-charset transcode (the Content-Type charset
    // drives the decoder; a UTF-8 pipeline that ignores it corrupts
    // exactly the non-English captures) with capture-granular
    // quarantine: a planted Content-Length/body disagreement costs
    // ONE capture ('truncated'), planted undecodable bytes under a
    // false utf-8 declaration cost ONE capture ('decode_error' after
    // the sniff fallback exhausts every candidate), and every sibling
    // survives with byte-exact transcoded-UTF-8 witnesses across the
    // three planted encodings (utf-8 / windows-1252 / shift_jis).
    Query("pipeline_crawl_charset", (s, d) => {
      ops.WarcOps.tryReadWarcCrawlHttp(s,
        ops.WarcOps.corruptCrawlHttpTable(s, t(s, d, "documents"), 50))
        .toDF()
        .select(col("doc_id"), col("status"), col("error_class"),
          col("detected"), col("n_out"), col("out_md5"))
        .orderBy(col("doc_id"))
    },
      // Replays the full production decode stack from doc_id
      // arithmetic: the two corruption arms' statuses/classes (body cut
      // short of Content-Length → truncated; undecodable bytes under a
      // false declaration → decode_error), the per-arm detected
      // charset, and the transcoded UTF-8 witnesses as text || marker.
      Sql(
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 3 = 0 THEN ' ü'
        |         WHEN doc_id % 3 = 1 THEN ' café!'
        |         ELSE ' 日本語' END AS marker,
        |    doc_id % 13 IN (5, 9) AS bad
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN bad THEN 'quarantined' ELSE 'ok' END AS status,
        |  CASE WHEN doc_id % 13 = 5 THEN 'truncated'
        |       WHEN doc_id % 13 = 9 THEN 'decode_error'
        |       ELSE '' END AS error_class,
        |  CASE WHEN bad THEN ''
        |       WHEN doc_id % 3 = 0 THEN 'utf-8'
        |       WHEN doc_id % 3 = 1 THEN 'windows-1252'
        |       ELSE 'shift_jis' END AS detected,
        |  CASE WHEN bad THEN -1
        |       ELSE cast(strlen(text || marker) as bigint) END AS n_out,
        |  CASE WHEN bad THEN '' ELSE md5(text || marker) END AS out_md5
        |FROM m ORDER BY doc_id""".stripMargin)),

    // ★ r14: ROBOTS + SOFT-404 curation over the crawl container —
    // the last common front-end signals: a 200 capture can still opt
    // out of indexing via an `X-Robots-Tag: noindex` response header
    // or a `<meta name="robots">` tag, and a 200 body can be an error
    // template (soft 404) no status code will ever reveal. The
    // generator plants all four arms by doc_id precedence; the gates
    // HERE run on the parsed surface (header value, head markup, body
    // template — never on ids), and the oracle replays the planting
    // arithmetic, so a match certifies classification by content.
    // Map-shaped front: only (stage, count) rows leave the aggregate.
    Query("pipeline_crawl_robots", (s, d) => {
      val caps = ops.WarcOps.readWarcCrawlRobots(s,
        ops.WarcOps.robotsCrawlTable(s, t(s, d, "documents"), 50))
        .toDF()
      val httpOk = col("status") === 200
      val hdrNoindex = lower(col("x_robots")).contains("noindex")
      val metaNoindex = col("html").rlike(
        "(?i)<meta[^>]*name=\"robots\"[^>]*content=\"[^\"]*noindex")
      val soft404 = col("html").contains("<h1>Page Not Found</h1>")
      val indexable = httpOk && !hdrNoindex && !metaNoindex
      val kept = indexable && !soft404
      caps.agg(
        count(lit(1)).as("c1"),
        sum(when(httpOk, 1L).otherwise(0L)).as("c2"),
        sum(when(indexable, 1L).otherwise(0L)).as("c3"),
        sum(when(kept, 1L).otherwise(0L)).as("c4"),
        sum(when(!httpOk, 1L).otherwise(0L)).as("r404"),
        sum(when(httpOk && hdrNoindex, 1L).otherwise(0L)).as("rhdr"),
        sum(when(httpOk && !hdrNoindex && metaNoindex, 1L)
          .otherwise(0L)).as("rmeta"),
        sum(when(indexable && soft404, 1L).otherwise(0L)).as("rsoft"))
        .select(explode(array(
          struct(lit("1_ingest").as("stage"), col("c1").as("n_docs")),
          struct(lit("2_http_ok").as("stage"), col("c2").as("n_docs")),
          struct(lit("3_indexable").as("stage"),
            col("c3").as("n_docs")),
          struct(lit("4_kept").as("stage"), col("c4").as("n_docs")),
          struct(lit("x_http_404").as("stage"),
            col("r404").as("n_docs")),
          struct(lit("x_noindex_header").as("stage"),
            col("rhdr").as("n_docs")),
          struct(lit("x_noindex_meta").as("stage"),
            col("rmeta").as("n_docs")),
          struct(lit("x_soft_404").as("stage"),
            col("rsoft").as("n_docs")))).as("r"))
        .select(col("r.stage"), col("r.n_docs"))
        .orderBy(col("stage"))
    },
      // Replays the robots/soft-404 gate chain from the planting
      // arithmetic (the generator's first-match-wins arm precedence) —
      // the Spark side classifies by PARSED content (header value, head
      // markup, body template), so agreement certifies content-driven
      // classification, not id echo.
      Sql(
      """WITH cls AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 9 THEN 'h404'
        |         WHEN doc_id % 7 = 3 THEN 'hdr'
        |         WHEN doc_id % 7 = 5 THEN 'meta'
        |         WHEN doc_id % 11 = 7 THEN 'soft'
        |         ELSE 'ok' END AS arm
        |  FROM documents)
        |SELECT stage, n_docs FROM (
        |  SELECT '1_ingest' AS stage, count(*) AS n_docs FROM cls
        |  UNION ALL SELECT '2_http_ok', count(*) FROM cls
        |    WHERE arm <> 'h404'
        |  UNION ALL SELECT '3_indexable', count(*) FROM cls
        |    WHERE arm IN ('soft', 'ok')
        |  UNION ALL SELECT '4_kept', count(*) FROM cls
        |    WHERE arm = 'ok'
        |  UNION ALL SELECT 'x_http_404', count(*) FROM cls
        |    WHERE arm = 'h404'
        |  UNION ALL SELECT 'x_noindex_header', count(*) FROM cls
        |    WHERE arm = 'hdr'
        |  UNION ALL SELECT 'x_noindex_meta', count(*) FROM cls
        |    WHERE arm = 'meta'
        |  UNION ALL SELECT 'x_soft_404', count(*) FROM cls
        |    WHERE arm = 'soft'
        |) ORDER BY stage""".stripMargin)),

    // ★ r14: NEAR-DUP VERDICTS OVER THE CRAWL CONTAINER — the ingest
    // decision the streaming neardupGateStream contract makes, here
    // composed over the real container in its batch spelling with the
    // PORTABLE hash family so the ENTIRE lane is oracle-replayable:
    // WARC walk → HTTP de-chunk → markup strip → portable MinHash LSH
    // candidates → exact-Jaccard verification → per-arriving-doc
    // verdict (dup of the persisted corpus / dup of an earlier
    // in-batch doc / unique, the keep-earliest discipline). Even doc
    // ids play the persisted corpus, odd ids the arriving batch.
    // HTML never shuffles: decode and strip are map-shaped,
    // signatures are computed row-locally, and only (id, hash/count)
    // rows reach the candidate and verdict aggregates.
    Query("pipeline_crawl_neardup", (s, d) => {
      val caps = ops.WarcOps.readWarcCrawl(s,
        ops.WarcOps.warcCrawlTable(s, t(s, d, "documents"), 50)).toDF()
        .filter(col("status") === 200)
      val noTags = regexp_replace(col("html"), "<[^>]*>", " ")
      val decoded = regexp_replace(regexp_replace(regexp_replace(
        noTags, "&amp;", "&"), "&lt;", "<"), "&gt;", ">")
      val clean = caps.select(col("doc_id"),
        trim(regexp_replace(decoded, " +", " ")).as("text"))
        .localCheckpoint(true) // feeds the sketch pass + verdict join
      val pairs = ops.DedupOps.portableMinhashPairs(
        clean, "doc_id", "text", threshold = 0.7)
      val adj = pairs
        .select(col("a").as("doc_id"), col("b").as("partner"))
        .unionByName(pairs.select(col("b").as("doc_id"),
          col("a").as("partner")))
        .filter(pmod(col("doc_id"), lit(2)) === 1)
      val verdicts = adj.groupBy(col("doc_id")).agg(
        sum(when(pmod(col("partner"), lit(2)) === 0, 1L)
          .otherwise(0L)).as("n_corpus"),
        sum(when(pmod(col("partner"), lit(2)) === 1 &&
            col("partner") < col("doc_id"), 1L)
          .otherwise(0L)).as("n_batch_prior"))
      clean.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"))
        .join(verdicts, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(coalesce(col("n_corpus"), lit(0L)) > 0, "dup_corpus")
            .when(coalesce(col("n_batch_prior"), lit(0L)) > 0,
              "dup_batch")
            .otherwise("unique").as("verdict"),
          coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
          coalesce(col("n_batch_prior"), lit(0L)).as("n_batch_prior"))
        .orderBy(col("doc_id"))
    },
      // Replays the whole crawl near-dup lane: the HTML wrap + strip
      // (the crawl_curate replay), then the ENTIRE portable MinHash
      // pipeline (per-shingle md5 → affine lanes → band keys → bucket
      // pairs → exact-Jaccard verification — the dedup_minhash_portable
      // replay over the STRIPPED text), then the even/odd
      // corpus-vs-batch verdict aggregation with the keep-earliest
      // in-batch rule.
      Sql(
      """WITH cap AS (
        |  SELECT doc_id,
        |    '<html><head><title>d</title></head><body><p>' ||
        |      regexp_replace(text, '\. ', '.</p> <p>', 'g') ||
        |      '</p><div class="footer">&amp;copy; 2026 &lt;corp&gt;' ||
        |      '</div></body></html>' AS html
        |  FROM documents WHERE doc_id % 10 <> 9),
        |c AS (
        |  SELECT doc_id, trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
        |      '&amp;', '&', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |    ' +', ' ', 'g')) AS text
        |  FROM cap),
        |t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |      FROM c),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(w) >= 3
        |       THEN list_transform(generate_series(1, len(w) - 2),
        |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |       ELSE [array_to_string(w, ' ')] END AS s FROM t),
        |shd AS (SELECT doc_id, list_distinct(s) AS sd FROM sh),
        |hmt AS (SELECT doc_id, sd,
        |  list_transform(sd, x ->
        |    (('0x' || substr(md5(x), 1, 15))::BIGINT) % 2147483647)
        |    AS hm FROM shd),
        |sig AS (SELECT doc_id,
        |  list_transform(generate_series(0, 15),
        |    i -> list_min(list_transform(hm, h ->
        |      (((1103515245 * (i + 1)) % 2147483647) * h +
        |       ((12345 * (i + 1)) % 2147483647)) % 2147483647)))
        |    AS sig FROM hmt),
        |band AS (SELECT doc_id, b AS band_id,
        |  array_to_string(sig[b*2+1 : b*2+2], '|') AS band_key
        |  FROM sig, LATERAL unnest(generate_series(0, 7)) tb(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM band x JOIN band y
        |    ON x.band_id = y.band_id AND x.band_key = y.band_key
        |   AND x.doc_id < y.doc_id),
        |hmd AS (SELECT doc_id, list_distinct(hm) AS hd FROM hmt),
        |ver AS (SELECT cd.a, cd.b,
        |  len(list_intersect(sa.hd, sb.hd)) AS inter,
        |  len(sa.hd) AS na, len(sb.hd) AS nb
        |  FROM cand cd JOIN hmd sa ON sa.doc_id = cd.a
        |               JOIN hmd sb ON sb.doc_id = cd.b),
        |verq AS (SELECT a, b FROM ver
        |  WHERE round(inter * 1.0 / (na + nb - inter), 4) >= 0.7),
        |adjp AS (SELECT a AS doc_id, b AS partner FROM verq
        |         UNION ALL SELECT b AS doc_id, a AS partner FROM verq),
        |agg AS (SELECT doc_id,
        |    sum(CASE WHEN partner % 2 = 0 THEN 1 ELSE 0 END)
        |      AS n_corpus,
        |    sum(CASE WHEN partner % 2 = 1 AND partner < doc_id
        |             THEN 1 ELSE 0 END) AS n_batch_prior
        |  FROM adjp WHERE doc_id % 2 = 1 GROUP BY doc_id)
        |SELECT c.doc_id,
        |  CASE WHEN coalesce(n_corpus, 0) > 0 THEN 'dup_corpus'
        |       WHEN coalesce(n_batch_prior, 0) > 0 THEN 'dup_batch'
        |       ELSE 'unique' END AS verdict,
        |  cast(coalesce(n_corpus, 0) as bigint) AS n_corpus,
        |  cast(coalesce(n_batch_prior, 0) as bigint) AS n_batch_prior
        |FROM c LEFT JOIN agg USING (doc_id)
        |WHERE c.doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin)),

    // ★ r13: MEMBER-GRANULAR quarantine over multi-document WARC —
    // the production posture the real crawl demands: the STREAMING
    // member-at-a-time walk (peak memory = one record, never the
    // decompressed file) with per-member failure granularity — a
    // planted gzip-CRC flip on one response member quarantines ONE
    // capture (class from the decoder's own trailer diagnosis) and a
    // pre-compression record-grammar overwrite on one request member
    // quarantines ONE member while its OWN response still survives.
    // The oracle replays member ordinals, statuses, classes, and the
    // clean captures' byte-exact witnesses from planting arithmetic.
    Query("source_warc_quarantine", (s, d) => {
      ops.WarcOps.tryReadWarcFiles(s,
        ops.WarcOps.corruptWarcFileTable(s, t(s, d, "documents"), 50))
        .toDF()
        .select(col("file_id"),
          col("member_idx").cast("long").as("member_idx"),
          col("status"),
          coalesce(col("error_class"), lit("")).as("error_class"),
          coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
          coalesce(col("resp_len"), lit(-1L)).as("resp_len"),
          coalesce(col("resp_md5"), lit("")).as("resp_md5"))
        .orderBy(col("file_id"), col("member_idx"))
    },
      // Replays the member-granular quarantine lane from the planting
      // arithmetic: member ordinals from the file layout (warcinfo 0,
      // then request 1+2k / response 2+2k per doc in id order), the
      // response CRC-flip (doc_id%17=3 → one 'integrity' quarantine,
      // capture lost), the request grammar overwrite (doc_id%17=7 →
      // one 'bad_magic' quarantine, its response SURVIVES), and every
      // clean capture's byte-exact witnesses.
      Sql(
      """WITH f AS (
        |  SELECT doc_id, text, doc_id // 50 AS file_id,
        |    row_number() OVER (PARTITION BY doc_id // 50
        |      ORDER BY doc_id) - 1 AS k
        |  FROM documents),
        |resp AS (
        |  SELECT file_id, cast(2 + 2 * k as bigint) AS member_idx,
        |    CASE WHEN doc_id % 17 = 3 THEN 'quarantined' ELSE 'ok' END
        |      AS status,
        |    CASE WHEN doc_id % 17 = 3 THEN 'integrity' ELSE '' END
        |      AS error_class,
        |    CASE WHEN doc_id % 17 = 3 THEN -1 ELSE doc_id END
        |      AS doc_id,
        |    CASE WHEN doc_id % 17 = 3 THEN -1
        |      ELSE cast(strlen(text) as bigint) END AS resp_len,
        |    CASE WHEN doc_id % 17 = 3 THEN '' ELSE md5(text) END
        |      AS resp_md5
        |  FROM f),
        |reqq AS (
        |  SELECT file_id, cast(1 + 2 * k as bigint) AS member_idx,
        |    'quarantined' AS status, 'bad_magic' AS error_class,
        |    cast(-1 as bigint) AS doc_id, cast(-1 as bigint) AS resp_len,
        |    '' AS resp_md5
        |  FROM f WHERE doc_id % 17 = 7)
        |SELECT file_id, member_idx, status, error_class, doc_id,
        |  resp_len, resp_md5
        |FROM (SELECT * FROM resp UNION ALL SELECT * FROM reqq)
        |ORDER BY file_id, member_idx""".stripMargin)),

    // ★ r12: Zstandard ingestion — the `.jsonl.zst` shape modern
    // public corpora (Dolma, RedPajama) ship in, via zstd-jni (the
    // public library Spark itself bundles): a real multi-FRAME walk
    // (even ids are two concatenated frames — the pzstd layout a
    // first-frame-stops decoder silently truncates), declared
    // content sizes gating allocation, per-frame xxhash64 checksums
    // verified, one native context per partition. Witnesses replayed
    // from the ORIGINAL text, certifying byte-exact recovery.
    Query("source_zstd", (s, d) => {
      ops.ZstdOps.unzstdAll(s,
        ops.ZstdOps.zstdTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("n_raw"), col("text_md5"))
        .orderBy(col("doc_id"))
    },
      // Same witness contract as source_gzip, over the zstd frame walk.
      Sql(
      """SELECT doc_id,
        |  cast(strlen(text) as bigint) AS n_raw,
        |  md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ★ r11: audio FINGERPRINT dedup — the classic energy-delta
    // signature (bit j set iff frame-energy(j+1) > energy(j),
    // strict integer comparison over 64-sample frames): volume-
    // robust, order-exact, and composed here with the same
    // exact-match grouping as pipeline_media_dedup (agg + join-back;
    // the checkpointed (id, fp) table is 24 B/clip). The oracle
    // replays frame energies, the lead-comparison bits, the hex
    // packing, and the group sizes.
    Query("multimodal_audio_fp", (s, d) => {
      val fps = ops.Multimodal.audioFingerprintAll(s,
        ops.Multimodal.audioTable(s, t(s, d, "documents")),
        frameLen = 64)
        .toDF()
        .select(col("doc_id"), col("fp"), col("n_frames"),
          col("n_rising"))
        .localCheckpoint(true)
      val groups = fps.groupBy(col("fp"))
        .agg(count(lit(1)).as("group_size"))
      fps.join(groups, Seq("fp"))
        .select(col("doc_id"), col("fp"), col("n_frames"),
          col("n_rising"), col("group_size"))
        .orderBy(col("doc_id"))
    },
      // Replays the fingerprint end-to-end: 64-sample frame energies
      // from the quadratic generator, bit j from the lead(e) > e
      // strict comparison (last frame's NULL lead falls to the ELSE 0
      // arm, same as the Scala loop bound), %016x packing, exact-match
      // group sizes.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    (ascii(substr(text, 1, 1)) % 768 + 256) * 2 AS n,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |smp AS (
        |  SELECT doc_id, i,
        |    ((s0 + 37 * i * i + 11 * i) % 4001) - 2000 AS s
        |  FROM sz, LATERAL unnest(generate_series(0, n - 1)) t(i)),
        |en AS (
        |  SELECT doc_id, i // 64 AS f, sum(s * s) AS e
        |  FROM smp GROUP BY doc_id, i // 64),
        |bits AS (
        |  SELECT doc_id, f,
        |    CASE WHEN f < 64 AND
        |        lead(e) OVER (PARTITION BY doc_id ORDER BY f) > e
        |      THEN (CAST(1 AS BIGINT) << f) ELSE 0 END AS b,
        |    CASE WHEN f < 64 AND
        |        lead(e) OVER (PARTITION BY doc_id ORDER BY f) > e
        |      THEN 1 ELSE 0 END AS r
        |  FROM en),
        |fp AS (
        |  SELECT doc_id, printf('%016x', cast(sum(b) as bigint)) AS fp,
        |    cast(count(*) as bigint) AS n_frames,
        |    cast(sum(r) as bigint) AS n_rising
        |  FROM bits GROUP BY doc_id),
        |grp AS (
        |  SELECT fp, cast(count(*) as bigint) AS group_size
        |  FROM fp GROUP BY fp)
        |SELECT doc_id, fp.fp, n_frames, n_rising, grp.group_size
        |FROM fp JOIN grp USING (fp)
        |ORDER BY doc_id""".stripMargin)),

    // ★ r11: per-frame video perceptual hash — the frame-level
    // signature video dedup / scene clustering blocks on: decode
    // each Y4M frame, 8×8 grid over the LUMA plane, the image
    // aHash's strict integer mean threshold, two 32-bit hex halves.
    // The oracle re-derives every frame's 64 grid lumas from the
    // generator and replays threshold + packing bit-for-bit.
    Query("multimodal_video_phash", (s, d) => {
      ops.Multimodal.videoFrameHashAll(s,
        ops.Multimodal.videoTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("vhash"),
          col("n_bright"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      // Re-derives every frame's 8×8 grid lumas from the Y4M generator
      // (luma byte iy·w + ix of frame f), then the strict gray·64 > Σ
      // threshold and the two-half hex packing — certifying frame
      // extraction + plane indexing + hash arithmetic per frame.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    (ascii(substr(text, 1, 1)) % 12) * 2 + 8 AS w,
        |    (ascii(substr(text, 2, 1)) % 12) * 2 + 8 AS h,
        |    (ascii(substr(text, 1, 1)) +
        |     ascii(substr(text, 2, 1))) % 5 + 2 AS nf,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, w, h, s0, f
        |  FROM sz, LATERAL unnest(generate_series(0, nf - 1)) t(f)),
        |g AS (
        |  SELECT doc_id, f, y * 8 + x AS i,
        |    (s0 + 11 * f + 31 * ((y * h // 8) * w + (x * w // 8)))
        |      % 256 AS gray
        |  FROM fr,
        |    LATERAL unnest(generate_series(0, 7)) ty(y),
        |    LATERAL unnest(generate_series(0, 7)) tx(x)),
        |t AS (
        |  SELECT doc_id, f, sum(gray) AS total
        |  FROM g GROUP BY doc_id, f),
        |b AS (
        |  SELECT g.doc_id, g.f,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i >= 32
        |      THEN (CAST(1 AS BIGINT) << (g.i - 32)) ELSE 0 END)
        |      as bigint) AS hi,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i < 32
        |      THEN (CAST(1 AS BIGINT) << g.i) ELSE 0 END)
        |      as bigint) AS lo,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total THEN 1 ELSE 0 END)
        |      as bigint) AS n_bright
        |  FROM g JOIN t USING (doc_id, f) GROUP BY g.doc_id, g.f)
        |SELECT doc_id, cast(f as bigint) AS frame_idx,
        |  printf('%08x%08x', hi, lo) AS vhash, n_bright
        |FROM b ORDER BY doc_id, frame_idx""".stripMargin)),

    // ★ r11: SHARD EXPORT — the WRITE side of the WebDataset
    // convention (the media analogue of pipeline_pack_export):
    // group docs into 32 shards, order members deterministically,
    // BUILD one real ustar archive per shard (id.txt + id.ppm per
    // doc), re-walk it with the decoder as a self-check, and certify
    // the built archive's byte length against the oracle's
    // independent layout arithmetic (headers + 512-padding + end
    // blocks, summed per shard). The one payload shuffle is the
    // grouping the product REQUIRES — a shard's members must meet in
    // one task to be serialized; nothing larger than a shard exists
    // at once.
    Query("pipeline_shard_export", (s, d) => {
      ops.Multimodal.shardExport(s, t(s, d, "documents"), nShards = 32)
        .toDF()
        .select(col("shard_id"), col("n_docs"), col("n_members"),
          col("tar_bytes"), col("txt_bytes"), col("reread_members"))
        .orderBy(col("shard_id"))
    },
      // Independent layout arithmetic per shard: each doc contributes
      // two members (header 512 + data padded to 512 each), plus the
      // 1024-byte end-of-archive; the Spark side reports the length of
      // the archive it actually BUILT, so equality certifies the
      // builder's framing against the spec, member by member.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id, text,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h
        |  FROM documents),
        |m AS (
        |  SELECT doc_id % 32 AS shard_id,
        |    512 + ((strlen(text) + 511) // 512) * 512
        |      + 512 + ((9 + strlen(cast(w as varchar))
        |        + strlen(cast(h as varchar)) + w * h * 3 + 511) // 512)
        |        * 512 AS member_bytes,
        |    strlen(text) AS txt
        |  FROM sz)
        |SELECT shard_id,
        |  cast(count(*) as bigint) AS n_docs,
        |  cast(count(*) * 2 as bigint) AS n_members,
        |  cast(1024 + sum(member_bytes) as bigint) AS tar_bytes,
        |  cast(sum(txt) as bigint) AS txt_bytes,
        |  cast(count(*) * 2 as bigint) AS reread_members
        |FROM m GROUP BY shard_id
        |ORDER BY shard_id""".stripMargin)),

    // ★ r12: BYTE-BUDGET shard export — how real WebDataset writers
    // cut shards: next-fit member pairs (no splitting) against a
    // 32 KiB archive budget instead of doc_id mod N. The narrow
    // manifest walks per 64-doc bucket (one aggregate HOF over the
    // sorted (id, bytes) array — PackOps.nextFitPack's distribution
    // discipline), bucket shard ranges concatenate via
    // withGlobalOffset, and only then do members meet their shard to
    // be serialized (the one payload shuffle). The oracle replays
    // the walk as a lockstep recursive CTE over the SAME layout
    // arithmetic and certifies every BUILT archive's byte length +
    // the budget verdict (a shard fits unless it is one oversize
    // member pair; this corpus's pairs are 8.5-15.9 KiB so a 32 KiB
    // budget packs 2-3 pairs per shard — the oversize arm is
    // spec-gated with synthetic docs, ShardBudgetSpec).
    Query("pipeline_shard_budget", (s, d) => {
      ops.Multimodal.shardExportBudget(s, t(s, d, "documents"),
        budgetBytes = 32768L, bucketSize = 64L)
        .select(col("shard_id"), col("n_docs"), col("n_members"),
          col("txt_bytes"), col("tar_bytes"), col("fits"))
        .orderBy(col("shard_id"))
    },
      // Replays the byte-budget walk as a lockstep recursion (all
      // 64-doc buckets advance one doc per step — the placement
      // scalars mirror Multimodal.shardExportBudget's accumulator
      // exactly), then the window exclusive scan into global shard
      // ids, then per-shard layout arithmetic (1024 end-block bytes +
      // each member pair's headers + 512-padded payloads) and the
      // budget verdict.
      Sql(
      """WITH RECURSIVE sz AS (
        |  SELECT doc_id, strlen(text) AS txt,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h
        |  FROM documents),
        |m AS (
        |  SELECT doc_id // 64 AS bucket, doc_id, txt,
        |    512 + ((txt + 511) // 512) * 512
        |      + 512 + ((9 + strlen(cast(w as varchar))
        |        + strlen(cast(h as varchar)) + w * h * 3 + 511) // 512)
        |        * 512 AS mb,
        |    row_number() OVER (PARTITION BY doc_id // 64
        |      ORDER BY doc_id) AS rn
        |  FROM sz),
        |walk(bucket, rn, doc_id, txt, mb, shard_rel, fill) AS (
        |  SELECT bucket, rn, doc_id, txt, mb, cast(0 AS BIGINT), mb
        |  FROM m WHERE rn = 1
        |  UNION ALL
        |  SELECT d.bucket, d.rn, d.doc_id, d.txt, d.mb,
        |    w.shard_rel + CASE WHEN w.fill > 0 AND
        |      w.fill + d.mb > 31744 THEN 1 ELSE 0 END,
        |    CASE WHEN w.fill > 0 AND w.fill + d.mb > 31744
        |      THEN d.mb ELSE w.fill + d.mb END
        |  FROM walk w JOIN m d
        |    ON d.bucket = w.bucket AND d.rn = w.rn + 1),
        |bu AS (
        |  SELECT bucket, max(shard_rel) + 1 AS nb
        |  FROM walk GROUP BY bucket),
        |gbase AS (
        |  SELECT bucket, coalesce(sum(nb) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS base
        |  FROM bu),
        |sh AS (
        |  SELECT w.shard_rel + g.base AS shard_id, w.doc_id, w.txt,
        |    w.mb
        |  FROM walk w JOIN gbase g USING (bucket))
        |SELECT cast(shard_id AS BIGINT) AS shard_id,
        |  cast(count(*) AS BIGINT) AS n_docs,
        |  cast(count(*) * 2 AS BIGINT) AS n_members,
        |  cast(sum(txt) AS BIGINT) AS txt_bytes,
        |  cast(1024 + sum(mb) AS BIGINT) AS tar_bytes,
        |  (1024 + sum(mb) <= 32768) OR count(*) = 1 AS fits
        |FROM sh GROUP BY shard_id
        |ORDER BY shard_id""".stripMargin)),

    // ★ r11: END-TO-END media dedup over the shard corpus — the
    // composition a multimodal curation pipeline actually runs: tar
    // walk → inner image decode → perceptual hash (one partition
    // pass, ops.Multimodal.ahashTarAll) → EXACT-hash duplicate
    // groups with a deterministic representative (min doc_id).
    // Group stats via groupBy + join-back rather than a window over
    // the hash key: partial aggregation absorbs a pathologically
    // common hash (e.g. blank images) map-side, where a window
    // partition would funnel the whole group through one task. The
    // oracle replays the hash from the generator and the same
    // group/representative election.
    Query("pipeline_media_dedup", (s, d) => {
      // the (id, hash) table is 16 bytes/shard and referenced twice
      // (grouping + join-back) — materialize the one decode+hash
      // pass instead of re-walking every archive per reference
      val hashed = ops.Multimodal.ahashTarAll(s,
        ops.Multimodal.tarShardTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("ahash"))
        .localCheckpoint(true)
      val groups = hashed.groupBy(col("ahash"))
        .agg(min(col("doc_id")).as("rep"),
          count(lit(1)).as("group_size"))
      hashed.join(groups, Seq("ahash"))
        .select(col("doc_id"), col("ahash"), col("group_size"),
          (col("doc_id") === col("rep")).as("is_rep"))
        .orderBy(col("doc_id"))
    },
      // Replays the shard images' aHash from the generator (the tar
      // member holds the same deterministic PPM), then the exact-dup
      // grouping and min-doc_id representative election.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, y * 8 + x AS i,
        |    ((s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3)) % 256
        |     + (s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3 + 1))
        |       % 256
        |     + (s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3 + 2))
        |       % 256) // 3 AS gray
        |  FROM sz,
        |    LATERAL unnest(generate_series(0, 7)) ty(y),
        |    LATERAL unnest(generate_series(0, 7)) tx(x)),
        |t AS (SELECT doc_id, sum(gray) AS total FROM g GROUP BY doc_id),
        |b AS (
        |  SELECT g.doc_id,
        |    printf('%08x%08x',
        |      cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i >= 32
        |        THEN (CAST(1 AS BIGINT) << (g.i - 32)) ELSE 0 END)
        |        as bigint),
        |      cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i < 32
        |        THEN (CAST(1 AS BIGINT) << g.i) ELSE 0 END)
        |        as bigint)) AS ahash
        |  FROM g JOIN t USING (doc_id) GROUP BY g.doc_id),
        |grp AS (
        |  SELECT ahash, min(doc_id) AS rep,
        |    cast(count(*) as bigint) AS group_size
        |  FROM b GROUP BY ahash)
        |SELECT b.doc_id, b.ahash, grp.group_size,
        |  b.doc_id = grp.rep AS is_rep
        |FROM b JOIN grp USING (ahash)
        |ORDER BY doc_id""".stripMargin)),

    // ★ r11: REAL COMPRESSED-format decode — the same deterministic
    // picture per doc as multimodal_decode, but encoded as true PNG
    // (ops.PngCodec: chunk framing with verified CRC-32s, zlib
    // DEFLATE via the JDK, scanline filters cycling y mod 5 so every
    // payload exercises None/Sub/Up/Average/Paeth reconstruction).
    // The oracle replays the pixel generator; matching px_sum
    // certifies inflate + all five unfilter paths byte-for-byte,
    // raw_len the decompressed scanline serialization. The container
    // (deflate output) length is implementation-defined and stays out
    // of the contract.
    Query("multimodal_png", (s, d) => {
      ops.Multimodal.decodePngAll(s,
        ops.Multimodal.pngImageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("raw_len"), col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // Replays the shared image generator for the PNG variant: same
      // dims / pixel arithmetic, raw_len = h·(1+3w) witnesses the
      // decompressed scanline serialization the Spark side must have
      // inflated to, px_sum the fully unfiltered plane (filters cycle
      // y mod 5, so a single wrong reconstruction arm would shift the
      // sum).
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * i) % 256) as bigint) AS px_sum
        |  FROM sz, LATERAL unnest(generate_series(0, w * h * 3 - 1)) t(i)
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(w as integer) AS width,
        |  cast(h as integer) AS height,
        |  'png' AS format,
        |  cast((1 + 3 * w) * h as bigint) AS raw_len,
        |  px.px_sum
        |FROM sz JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ★ r11: HETEROGENEOUS-corpus decode — format varies PER ROW
    // (cp0 mod 3 → PPM / BMP / PNG), the shape of a real media
    // crawl: the decode stage dispatches by MAGIC BYTES, not a
    // table-level format flag. The oracle's px_sum would shift
    // immediately if the sniffer routed a row to the wrong parser
    // (BMP's padded bottom-up BGR vs PPM's raw plane vs PNG's
    // filtered+deflated scanlines).
    Query("multimodal_mixed", (s, d) => {
      ops.Multimodal.decodeAll(s,
        ops.Multimodal.mixedImageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // Replays the shared image generator with the per-row format
      // split (cp0 mod 3) — the witness is the same full-plane px_sum,
      // so a sniffer mis-route shows up as a value mismatch.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) AS cp0,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * i) % 256) as bigint) AS px_sum
        |  FROM sz, LATERAL unnest(generate_series(0, w * h * 3 - 1)) t(i)
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(w as integer) AS width,
        |  cast(h as integer) AS height,
        |  CASE cp0 % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
        |    ELSE 'png' END AS format,
        |  px.px_sum
        |FROM sz JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ★ r12: REAL BASELINE JPEG decode — the format a real media
    // crawl is overwhelmingly made of: per doc a constant-block
    // grayscale picture encoded as interleaved 4:2:0 baseline JPEG
    // (real DQT/DHT/SOF0/SOS syntax, Huffman-coded DC deltas through
    // the spec's Annex K DC table), decoded by a full general
    // baseline decoder (ops.JpegCodec: canonical Huffman
    // construction, entropy scan with byte unstuffing, dequant,
    // exact separable IDCT, chroma upsampling, JFIF color convert).
    // Constant blocks under all-ones quantization survive JPEG
    // EXACTLY (only DC is nonzero), so the oracle replays the full
    // decoded pixel plane from the generator arithmetic; general AC
    // / ZRL / restart decoding is gated by hand-assembled streams in
    // JpegCodecSpec. Container length is Huffman-output-defined and
    // stays out of the contract (the PNG discipline).
    Query("multimodal_jpeg", (s, d) => {
      ops.Multimodal.decodeAll(s,
        ops.Multimodal.jpegImageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // Replays the constant-block generator: w/h from the first two
      // codepoints (multiples of 16), block b flat gray
      // (s0 + 17·b) mod 256, px_sum = 192·Σ block values (64 pixels ×
      // 3 channels per block). A match certifies the WHOLE baseline
      // decode chain — Huffman DC deltas, dequant, IDCT, 4:2:0
      // upsample, color convert — reproduced every pixel.
      Sql(multimodalJpegSql)),

    // ★ r13: PROGRESSIVE JPEG decode (SOF2) — the multi-scan layout
    // real web JPEGs actually ship in: spectral selection (the AC
    // band as its own scan, coded as EOB runs) + successive
    // approximation (DC high bits first, a raw-bit refinement scan) —
    // T.81 Annex G over the existing canonical-Huffman/IDCT
    // machinery, with coefficients accumulated across scans and one
    // dequant+IDCT at EOI. The oracle replays the full pixel plane
    // (the DC quantizer folds out exactly); general AC-first /
    // AC-refinement arms and an independent cross-decoder conformance
    // check (javax.imageio over the SAME bytes) are gated in
    // JpegCodecSpec.
    Query("multimodal_jpeg_progressive", (s, d) => {
      ops.Multimodal.decodeAll(s,
        ops.Multimodal.progressiveJpegTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // progressive JPEG decodes the SAME constant-block picture the
      // baseline arm certifies — one pixel-plane oracle serves both
      Sql(multimodalJpegSql)),

    // ★ r12: the FOUR-format heterogeneous corpus (cp0 mod 4 → PPM /
    // BMP / PNG / JPEG over the shared constant-block picture) — the
    // media-crawl mix including the lossy format, dispatched per row
    // by magic bytes through the same sniffer. A mis-route of any
    // row to the wrong parser shifts px_sum immediately.
    Query("multimodal_mixed4", (s, d) => {
      ops.Multimodal.decodeAll(s,
        ops.Multimodal.mixed4ImageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // The 4-format split over the same block generator — the witness
      // is the shared full-plane px_sum, so a sniffer mis-route shows
      // up as a value mismatch in any arm.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) AS cp0,
        |    (ascii(substr(text, 1, 1)) % 4 + 1) * 16 AS w,
        |    (ascii(substr(text, 2, 1)) % 4 + 1) * 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum(192 * ((s0 + 17 * b) % 256)) as bigint) AS px_sum
        |  FROM sz,
        |    LATERAL unnest(generate_series(0, (w // 8) * (h // 8) - 1))
        |      t(b)
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(w as integer) AS width,
        |  cast(h as integer) AS height,
        |  CASE cp0 % 4 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
        |    WHEN 2 THEN 'png' ELSE 'jpeg' END AS format,
        |  px.px_sum
        |FROM sz JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ★ r11: rate normalization — decode → deinterleave channel 0 →
    // integer nearest-neighbor resample to 8 kHz (the pass a speech
    // corpus runs so every clip feeds the model at one rate; the
    // generator's four source rates hit the identity, 1/2, 2/3 and
    // 2/5 ratios). All-integer index math, replayed exactly by the
    // oracle down to the resampled energy.
    Query("multimodal_audio_resample", (s, d) => {
      ops.Multimodal.resampleAudioAll(s,
        ops.Multimodal.audioTable(s, t(s, d, "documents")),
        targetRate = 8000)
        .toDF()
        .select(col("doc_id"), col("n_in"), col("n_out"),
          col("r_sq_sum"))
        .orderBy(col("doc_id"))
    },
      // Replays the resample index math: frames = n div ch,
      // n_out = frames·8000 div rate, output j reads channel-0 frame
      // j·frames div n_out (interleaved index ×ch), then the quadratic
      // sample formula and the energy sum.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    (ascii(substr(text, 1, 1)) % 768 + 256) * 2 AS n,
        |    8000 + (ascii(substr(text, 2, 1)) % 4) * 4000 AS rate,
        |    ascii(substr(text, 2, 1)) % 2 + 1 AS ch,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n // ch AS frames,
        |    (n // ch) * 8000 // rate AS n_out, ch, s0
        |  FROM sz),
        |idx AS (
        |  SELECT doc_id, frames, n_out,
        |    (j * frames // n_out) * ch AS i, s0
        |  FROM o, LATERAL unnest(generate_series(0, n_out - 1)) t(j)),
        |smp AS (
        |  SELECT doc_id, frames, n_out,
        |    ((s0 + 37 * i * i + 11 * i) % 4001) - 2000 AS s
        |  FROM idx)
        |SELECT doc_id,
        |  cast(max(frames) as bigint) AS n_in,
        |  cast(max(n_out) as bigint) AS n_out,
        |  cast(sum(s * s) as bigint) AS r_sq_sum
        |FROM smp GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),

    // ★ r11: REAL AUDIO decode — deterministic WAV/PCM16 clips
    // (ops.AudioCodec: RIFF chunk walk with untrusted-size checks,
    // odd-chunk padding, fmt/data extraction) + the integer-exact
    // signal features a speech pipeline computes (energy as Σs²,
    // strict-sign zero crossings, peak |s|, integer-division
    // duration). The oracle replays the quadratic sample generator
    // and every feature — a match certifies container parse + sample
    // decode + all four feature kernels.
    Query("multimodal_audio", (s, d) => {
      ops.Multimodal.decodeAudioAll(s,
        ops.Multimodal.audioTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"),
          col("sample_rate").cast("int").as("sample_rate"),
          col("channels").cast("int").as("channels"),
          col("n_samples"), col("dur_ms"), col("sq_sum"),
          col("n_zc"), col("peak"))
        .orderBy(col("doc_id"))
    },
      // Replays the audio generator (even sample count, rate/channels
      // from cp1, quadratic waveform) and all four integer feature
      // kernels; zero crossings via a lag window over the replayed
      // samples (the NULL first-lag row falls to the ELSE 0 arm, same
      // as Spark's i=1 start).
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    (ascii(substr(text, 1, 1)) % 768 + 256) * 2 AS n,
        |    8000 + (ascii(substr(text, 2, 1)) % 4) * 4000 AS rate,
        |    ascii(substr(text, 2, 1)) % 2 + 1 AS ch,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |smp AS (
        |  SELECT doc_id, i,
        |    ((s0 + 37 * i * i + 11 * i) % 4001) - 2000 AS s
        |  FROM sz, LATERAL unnest(generate_series(0, n - 1)) t(i)),
        |zc AS (
        |  SELECT doc_id,
        |    CASE WHEN (s < 0) !=
        |      (lag(s) OVER (PARTITION BY doc_id ORDER BY i) < 0)
        |      THEN 1 ELSE 0 END AS z
        |  FROM smp),
        |feat AS (
        |  SELECT doc_id,
        |    cast(sum(s * s) as bigint) AS sq_sum,
        |    cast(max(abs(s)) as bigint) AS peak
        |  FROM smp GROUP BY doc_id),
        |zcs AS (
        |  SELECT doc_id, cast(sum(z) as bigint) AS n_zc
        |  FROM zc GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(rate as integer) AS sample_rate,
        |  cast(ch as integer) AS channels,
        |  cast(n as bigint) AS n_samples,
        |  cast((n // ch) * 1000 // rate as bigint) AS dur_ms,
        |  feat.sq_sum, zcs.n_zc, feat.peak
        |FROM sz JOIN feat USING (doc_id) JOIN zcs USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ★ r11: framed audio energy — consecutive 256-sample frames of
    // the decoded stream, each with its integer energy (the windowed
    // pass before VAD/segmentation). Decode + framing share the row
    // (flatMap in the partition-wise slot); only (id, frame, n,
    // energy) rows travel. Oracle groups the replayed samples by
    // i div 256.
    Query("multimodal_audio_frames", (s, d) => {
      ops.Multimodal.audioFramesAll(s,
        ops.Multimodal.audioTable(s, t(s, d, "documents")),
        frameLen = 256)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("f_n"),
          col("f_sq_sum"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      // Groups the replayed samples into 256-sample frames (i div 256)
      // — the tail frame's short count is part of the contract.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    (ascii(substr(text, 1, 1)) % 768 + 256) * 2 AS n,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |smp AS (
        |  SELECT doc_id, i,
        |    ((s0 + 37 * i * i + 11 * i) % 4001) - 2000 AS s
        |  FROM sz, LATERAL unnest(generate_series(0, n - 1)) t(i))
        |SELECT doc_id,
        |  cast(i // 256 as bigint) AS frame_idx,
        |  cast(count(*) as bigint) AS f_n,
        |  cast(sum(s * s) as bigint) AS f_sq_sum
        |FROM smp GROUP BY doc_id, i // 256
        |ORDER BY doc_id, frame_idx""".stripMargin)),

    // ★ r11: REAL VIDEO decode — deterministic Y4M streams
    // (ops.VideoCodec: ASCII header tokenization, FRAME markers,
    // planar 4:2:0 extraction) exploded to one row per frame with
    // integer luma/chroma plane witnesses. The oracle replays the
    // per-frame byte generator and both plane sums — certifying
    // header parse, frame framing, and plane-boundary arithmetic.
    Query("multimodal_video_frames", (s, d) => {
      ops.Multimodal.videoFramesAll(s,
        ops.Multimodal.videoTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          col("fps_num").cast("int").as("fps_num"),
          col("n_frames"), col("frame_idx"), col("y_sum"),
          col("c_sum"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      // Replays the Y4M generator per (doc, frame): plane byte i =
      // (s0 + 11f + 31i) mod 256, split at the w·h luma/chroma
      // boundary; total planar size w·h·3/2 (even dims).
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) AS cp0,
        |    (ascii(substr(text, 1, 1)) % 12) * 2 + 8 AS w,
        |    (ascii(substr(text, 2, 1)) % 12) * 2 + 8 AS h,
        |    (ascii(substr(text, 1, 1)) +
        |     ascii(substr(text, 2, 1))) % 5 + 2 AS nf,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, w, h, nf, s0, f
        |  FROM sz, LATERAL unnest(generate_series(0, nf - 1)) t(f)),
        |px AS (
        |  SELECT doc_id, f,
        |    cast(sum(CASE WHEN i < w * h
        |      THEN (s0 + 11 * f + 31 * i) % 256 END) as bigint) AS y_sum,
        |    cast(sum(CASE WHEN i >= w * h
        |      THEN (s0 + 11 * f + 31 * i) % 256 END) as bigint) AS c_sum
        |  FROM fr,
        |    LATERAL unnest(generate_series(0, w * h * 3 // 2 - 1)) t(i)
        |  GROUP BY doc_id, f)
        |SELECT sz.doc_id,
        |  cast(w as integer) AS width,
        |  cast(h as integer) AS height,
        |  cast(CASE WHEN cp0 % 2 = 0 THEN 25 ELSE 30 END
        |    as integer) AS fps_num,
        |  cast(nf as bigint) AS n_frames,
        |  cast(f as bigint) AS frame_idx,
        |  px.y_sum, px.c_sum
        |FROM px JOIN sz USING (doc_id)
        |ORDER BY doc_id, frame_idx""".stripMargin)),

    // ★ r11: scene-cut detection over decoded video — per-clip count
    // of frames whose luma-plane sum jumps by ≥ w·h against the
    // previous frame (lag window PARTITIONED BY clip — bounded
    // frames per partition key, never global), plus the first cut
    // index. This is the cross-frame composition a curation pipeline
    // runs to segment clips before sampling; the oracle replays the
    // same lag/threshold over the re-derived luma sums.
    Query("multimodal_video_scenes", (s, d) => {
      val wspec = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("frame_idx")
      ops.Multimodal.videoFramesAll(s,
        ops.Multimodal.videoTable(s, t(s, d, "documents")))
        .toDF()
        .withColumn("prev", lag(col("y_sum"), 1).over(wspec))
        .withColumn("cut",
          when(col("prev").isNotNull &&
            abs(col("y_sum") - col("prev")) >=
              col("width").cast("long") * col("height"), 1L)
            .otherwise(0L))
        .groupBy(col("doc_id"))
        .agg(max(col("n_frames")).as("n_frames"),
          sum(col("cut")).as("n_cuts"),
          coalesce(min(when(col("cut") === 1L, col("frame_idx"))),
            lit(-1L)).as("first_cut"))
        .orderBy(col("doc_id"))
    },
      // Replays the luma sums, then the same lag/threshold scene-cut
      // rule (|Δy_sum| ≥ w·h, first frame never a cut) and the
      // first-cut index with the -1 no-cut sentinel.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    (ascii(substr(text, 1, 1)) % 12) * 2 + 8 AS w,
        |    (ascii(substr(text, 2, 1)) % 12) * 2 + 8 AS h,
        |    (ascii(substr(text, 1, 1)) +
        |     ascii(substr(text, 2, 1))) % 5 + 2 AS nf,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, w, h, nf, s0, f
        |  FROM sz, LATERAL unnest(generate_series(0, nf - 1)) t(f)),
        |ys AS (
        |  SELECT doc_id, f, max(w) AS w, max(h) AS h, max(nf) AS nf,
        |    sum((s0 + 11 * f + 31 * i) % 256) AS y_sum
        |  FROM fr, LATERAL unnest(generate_series(0, w * h - 1)) t(i)
        |  GROUP BY doc_id, f),
        |cuts AS (
        |  SELECT doc_id, f, nf,
        |    CASE WHEN abs(y_sum -
        |        lag(y_sum) OVER (PARTITION BY doc_id ORDER BY f))
        |        >= w * h
        |      THEN 1 ELSE 0 END AS cut
        |  FROM ys)
        |SELECT doc_id,
        |  cast(max(nf) as bigint) AS n_frames,
        |  cast(sum(cut) as bigint) AS n_cuts,
        |  cast(coalesce(min(CASE WHEN cut = 1 THEN f END), -1)
        |    as bigint) AS first_cut
        |FROM cuts GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),

    // ★ r11: TRUE average-hash over REAL decoded pixels — grayscale →
    // 8×8 nearest-neighbor grid → strict-integer mean threshold → 64
    // bits as hex (ImageCodec.averageHash). The oracle re-derives all
    // 64 grid grays from the generator arithmetic, replays the
    // gray·64 > Σgrays comparison, and packs the same two 32-bit
    // halves — certifying the whole perceptual-hash pipeline
    // (decode → sample → threshold → pack) bit-for-bit cross-engine.
    Query("multimodal_ahash", (s, d) => {
      ops.Multimodal.averageHashAll(s,
        ops.Multimodal.imageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("ahash"), col("n_bright"))
        .orderBy(col("doc_id"))
    },
      // Replays the full perceptual-hash pipeline from the generator:
      // 8×8 nearest-neighbor grid grays ((r+g+b) div 3 from the
      // (s0+31i) mod 256 pixel formula), the strict-integer
      // gray·64 > Σgrays threshold, and the two zero-padded 32-bit hex
      // halves — the Spark side computed all of it from REAL decoded
      // bytes, so equality certifies decode + sample + threshold + pack.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, y * 8 + x AS i,
        |    ((s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3)) % 256
        |     + (s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3 + 1))
        |       % 256
        |     + (s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3 + 2))
        |       % 256) // 3 AS gray
        |  FROM sz,
        |    LATERAL unnest(generate_series(0, 7)) ty(y),
        |    LATERAL unnest(generate_series(0, 7)) tx(x)),
        |t AS (SELECT doc_id, sum(gray) AS total FROM g GROUP BY doc_id),
        |b AS (
        |  SELECT g.doc_id,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i >= 32
        |      THEN (CAST(1 AS BIGINT) << (g.i - 32)) ELSE 0 END)
        |      as bigint) AS hi,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i < 32
        |      THEN (CAST(1 AS BIGINT) << g.i) ELSE 0 END)
        |      as bigint) AS lo,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total THEN 1 ELSE 0 END)
        |      as bigint) AS n_bright
        |  FROM g JOIN t USING (doc_id) GROUP BY g.doc_id)
        |SELECT doc_id, printf('%08x%08x', hi, lo) AS ahash, n_bright
        |FROM b ORDER BY doc_id""".stripMargin)),

    // ★ r11: near-dup detection over REAL decoded pixels — the aHash
    // kernel feeding the shared 4×16-bit banded blocking + exact
    // Hamming verify (any pair within Hamming 3 shares a band by
    // pigeonhole). The oracle re-derives every image's 64-bit aHash
    // from the generator arithmetic, replays banding, candidate
    // generation (DISTINCT a<b pairs), two-half Hamming verification
    // and the per-image partner count — the full image-dedup pipeline
    // certified end-to-end over real pixel bytes.
    Query("multimodal_ahash_dups", (s, d) => {
      ops.Multimodal.ahashDupSummary(s,
        ops.Multimodal.imageTable(s, t(s, d, "documents")))
        .orderBy(col("doc_id"))
    },
      // Replays the full image near-dup pipeline from the generator:
      // per-doc aHash (as two 32-bit halves — a packed signed long would
      // overflow BIGINT arithmetic at bit 63), 4×16-bit banding over the
      // halves, DISTINCT a<b candidate pairs, two-half Hamming verify,
      // symmetric partner counts. Mirrors DedupOps.hammingNearDupSummary
      // + ImageCodec.averageHash exactly (bucket caps are structural at
      // oracle scale: 500 docs < maxBucket).
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, y * 8 + x AS i,
        |    ((s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3)) % 256
        |     + (s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3 + 1))
        |       % 256
        |     + (s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3 + 2))
        |       % 256) // 3 AS gray
        |  FROM sz,
        |    LATERAL unnest(generate_series(0, 7)) ty(y),
        |    LATERAL unnest(generate_series(0, 7)) tx(x)),
        |t AS (SELECT doc_id, sum(gray) AS total FROM g GROUP BY doc_id),
        |hh AS (
        |  SELECT g.doc_id,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i >= 32
        |      THEN (CAST(1 AS BIGINT) << (g.i - 32)) ELSE 0 END)
        |      as bigint) AS hi,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i < 32
        |      THEN (CAST(1 AS BIGINT) << g.i) ELSE 0 END)
        |      as bigint) AS lo
        |  FROM g JOIN t USING (doc_id) GROUP BY g.doc_id),
        |band AS (
        |  SELECT doc_id, bb AS band_id,
        |    CASE bb WHEN 0 THEN lo & 65535
        |            WHEN 1 THEN (lo >> 16) & 65535
        |            WHEN 2 THEN hi & 65535
        |            ELSE (hi >> 16) & 65535 END AS band_val
        |  FROM hh, LATERAL unnest(generate_series(0, 3)) t(bb)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM band x JOIN band y
        |    ON x.band_id = y.band_id AND x.band_val = y.band_val
        |   AND x.doc_id < y.doc_id),
        |near AS (
        |  SELECT c.a, c.b FROM cand c
        |  JOIN hh pa ON pa.doc_id = c.a
        |  JOIN hh pb ON pb.doc_id = c.b
        |  WHERE bit_count(xor(pa.hi, pb.hi))
        |      + bit_count(xor(pa.lo, pb.lo)) <= 3),
        |sym AS (SELECT a AS id FROM near
        |        UNION ALL SELECT b AS id FROM near),
        |cnt AS (SELECT id, count(*) AS n FROM sym GROUP BY id)
        |SELECT hh.doc_id, printf('%08x%08x', hi, lo) AS ahash,
        |  cast(coalesce(c.n, 0) as bigint) AS n_near
        |FROM hh LEFT JOIN cnt c ON c.id = hh.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // REAL thumbnail pass: ImageCodec decode + nearest-neighbor
    // resample of the actual pixels (fit into a 48px box, never
    // upscale), one partition-wise batch. px_sum witnesses every
    // RESAMPLED byte — the oracle re-derives the sampling grid and the
    // generator's pixel values and must land on the same sum.
    Query("multimodal_resize", (s, d) => {
      ops.Multimodal.resizeAll(s,
        ops.Multimodal.imageTable(s, t(s, d, "documents")), maxSide = 48)
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          col("out_width").cast("int").as("out_width"),
          col("out_height").cast("int").as("out_height"),
          col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // Mirrors ImageCodec.resizeNearest over the imageTable generator.
      // The scale factor is computed division-first (48.0 / longest,
      // then multiply) in BOTH engines so the IEEE operation order — and
      // any half-way rounding — is identical; the nearest-neighbor
      // sampling grid is integer division (oy*h // oh, ox*w // ow), so
      // px_sum re-derives every RESAMPLED pixel byte from the generator
      // formula and must equal what the real codec produced.
      Sql(
      """WITH dec AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS width,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS height,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |sz AS (
        |  SELECT doc_id, width, height, s0,
        |    cast(CASE WHEN greatest(width, height) <= 48 THEN width
        |         ELSE greatest(1, cast(round(width *
        |           (48.0 / greatest(width, height))) as integer)) END
        |      as bigint) AS ow,
        |    cast(CASE WHEN greatest(width, height) <= 48 THEN height
        |         ELSE greatest(1, cast(round(height *
        |           (48.0 / greatest(width, height))) as integer)) END
        |      as bigint) AS oh
        |  FROM dec),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * (((oy * height // oh) * width
        |      + (ox * width // ow)) * 3 + c)) % 256) as bigint)
        |      AS px_sum
        |  FROM sz,
        |    LATERAL unnest(generate_series(0, oh - 1)) ty(oy),
        |    LATERAL unnest(generate_series(0, ow - 1)) tx(ox),
        |    LATERAL unnest(generate_series(0, 2)) tc(c)
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(width as integer) AS width,
        |  cast(height as integer) AS height,
        |  cast(ow as integer) AS out_width,
        |  cast(oh as integer) AS out_height,
        |  px.px_sum
        |FROM sz JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // Feature extraction over binary payloads (stub embedding model:
    // deterministic unit-norm 16-float signature; real model swaps in
    // per-partition). Rows-only — invariants (unit norm, determinism,
    // ANN composability) are MultimodalSpec-gated.
    Query("multimodal_features", (s, d) => {
      ops.Multimodal.featureExtractAll(s,
        ops.Multimodal.mediaTable(t(s, d, "documents")), dim = 16)
        .toDF()
        .select(col("doc_id"),
          round(element_at(col("feature"), 1), 4).as("f0"),
          size(col("feature")).cast("bigint").as("dim"))
        .orderBy(col("doc_id"))
    }, Sql(featuresOracleSql)),

    // Opaque-binary column handling: bytes + content hash over a binary
    // payload column (text encoded as the stand-in payload; the decode
    // step itself is stubbed — see graft.ops.Multimodal).
    Query("multimodal_meta", (s, d) => {
      t(s, d, "documents")
        .select(
          col("doc_id"),
          octet_length(col("text")).cast("bigint").as("n_bytes"),
          sha2(col("text").cast("binary"), 256).as("content_hash"))
        .orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id, strlen(text) AS n_bytes, sha256(text) AS content_hash
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Perceptual-hash near-duplicate detection over binary payloads —
    // the image analogue of dedup_simhash: a stubbed average-hash (64
    // sampled "pixels", mean threshold; a real codec swaps into the
    // same partition-wise batch), 4×16-bit banded blocking, exact
    // Hamming verify ≤ 3 (simhash's discipline; 8-bit bands measured
    // quadratic — see scaladoc). Candidate volume is bucket-bounded, the
    // verify moves only 16-byte (id, hash) pairs — payload bytes never
    // shuffle. Rows-only; planted-duplicate detection and determinism
    // are MultimodalSpec-gated.
    Query("multimodal_phash", (s, d) => {
      ops.Multimodal.phashDupSummary(s,
        ops.Multimodal.mediaTable(t(s, d, "documents")))
        .orderBy(col("doc_id"))
    }, Sql(phashOracleSql)),

    // Deterministic frame-offset sampling over binary media payloads
    // (ops.Multimodal.frameOffsets — every 64th byte offset, capped
    // at 8 frames/asset): the planning-level manifest a video
    // pipeline hands its decode stage, needing NO codec — pure
    // integer column math over (length, stride, cap), zero shuffle
    // beyond the presentation sort. The oracle replays the stride
    // arithmetic over the same stand-in payloads (text bytes).
    Query("multimodal_framesample", (s, d) => {
      val media = ops.Multimodal.mediaTable(t(s, d, "documents"))
      media.select(col("doc_id"),
          length(col("content")).cast("bigint").as("n_bytes"),
          posexplode(ops.Multimodal.frameOffsets(col("content"),
            stride = 64, maxFrames = 8)))
        .select(col("doc_id"), col("n_bytes"),
          col("pos").cast("bigint").as("frame_idx"),
          col("col").cast("bigint").as("byte_off"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      // Frame sampling: text is the stand-in payload (the mediaTable
      // contract), so byte length = strlen; offsets are the stride grid
      // capped at 8.
      Sql(
      """WITH m AS (SELECT doc_id, strlen(text) AS n_bytes
        |           FROM documents),
        |f AS (SELECT doc_id, n_bytes,
        |        (generate_series(0, n_bytes - 1, 64))[1:8] AS offs
        |      FROM m)
        |SELECT doc_id, n_bytes, i - 1 AS frame_idx, offs[i] AS byte_off
        |FROM f, LATERAL unnest(generate_series(1, len(offs))) t(i)
        |ORDER BY doc_id, frame_idx""".stripMargin)),

    // Link prediction by common-neighbor counting over the temporal
    // co-occurrence graph (the graph_triangles adjacency): for every
    // NON-adjacent pair sharing a neighbor, the common-neighbor count
    // and neighborhood Jaccard; top-50 predicted links. Wedge centers
    // are capped at degree 64 — a super-hub's wedge contribution is
    // noise for link prediction (it neighbors everyone), and the cap
    // is what bounds per-center wedge work at 64² under ANY skew (the
    // contract a 100 TB graph needs; full degrees still feed the
    // Jaccard denominator). The whole pipeline is joins + one
    // aggregate on (a,b) + TakeOrdered.
    Query("graph_link_predict", (s, d) => {
      val w = Window.partitionBy(col("event_type"), col("hr"))
        .orderBy(col("ts"), col("event_id"))
      val e0 = t(s, d, "events")
        .select(col("event_type"), expr("ts div 3600000000000").as("hr"),
          col("user_id"), col("ts"), col("event_id"))
        .withColumn("nxt", lead(col("user_id"), 1).over(w))
        .filter(col("nxt").isNotNull && col("nxt") =!= col("user_id"))
        .select(least(col("user_id"), col("nxt")).as("u"),
          greatest(col("user_id"), col("nxt")).as("v"))
        .distinct()
        .localCheckpoint()
      val und = e0.select(col("u").as("c"), col("v").as("n"))
        .unionByName(e0.select(col("v").as("c"), col("u").as("n")))
      val deg = und.groupBy(col("c")).agg(count(lit(1)).as("d"))
      val centers = und
        .join(broadcast(deg.filter(col("d") <= 64).select(col("c"))),
          Seq("c"))
      val cn = centers.select(col("c"), col("n").as("a"))
        .join(centers.select(col("c"), col("n").as("b")), Seq("c"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
      val nonEdge = cn.join(e0,
        cn("a") === e0("u") && cn("b") === e0("v"), "left_anti")
      nonEdge
        .join(deg.select(col("c").as("a"), col("d").as("deg_a")), Seq("a"))
        .join(deg.select(col("c").as("b"), col("d").as("deg_b")), Seq("b"))
        .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
          round(col("cn").cast("double")
            / (col("deg_a") + col("deg_b") - col("cn")), 4).as("jaccard"))
        .orderBy(col("cn").desc, col("a"), col("b"))
        .limit(50)
    },
      // Link prediction: same e0/deg chain as graph_triangles; centers
      // capped at degree 64, non-edges by anti-join, (cn DESC, a, b)
      // total order under the limit.
      Sql(
      """WITH seq AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, user_id,
        |         lead(user_id) OVER (
        |           PARTITION BY event_type, date_trunc('hour', ts)
        |           ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |e0 AS (SELECT DISTINCT least(user_id, nxt) AS u,
        |              greatest(user_id, nxt) AS v
        |       FROM seq WHERE nxt IS NOT NULL AND nxt <> user_id),
        |und AS (SELECT u AS c, v AS n FROM e0
        |        UNION ALL SELECT v, u FROM e0),
        |deg AS (SELECT c, count(*) AS d FROM und GROUP BY c),
        |ctr AS (SELECT und.c, und.n FROM und
        |        JOIN deg ON deg.c = und.c WHERE deg.d <= 64),
        |cn AS (SELECT x.n AS a, y.n AS b, count(*) AS cn
        |       FROM ctr x JOIN ctr y ON x.c = y.c AND x.n < y.n
        |       GROUP BY 1, 2),
        |ne AS (SELECT cn.* FROM cn
        |       LEFT JOIN e0 ON cn.a = e0.u AND cn.b = e0.v
        |       WHERE e0.u IS NULL)
        |SELECT ne.a, ne.b, ne.cn, da.d AS deg_a, db.d AS deg_b,
        |  round(cast(ne.cn AS double) / (da.d + db.d - ne.cn), 4)
        |    AS jaccard
        |FROM ne JOIN deg da ON da.c = ne.a JOIN deg db ON db.c = ne.b
        |ORDER BY ne.cn DESC, ne.a, ne.b LIMIT 50""".stripMargin)),

    // Z-order clustered storage under the oracle: rewrite a lineitem
    // projection z-ordered on (l_partkey, l_suppkey), read the copy
    // back through a two-dimension predicate, and hash-match the SAME
    // predicate over the original parquet — data identity under
    // re-layout. The measured file-skipping win of the layout itself
    // (~sqrt(1/nFiles) per-file coverage on BOTH dims) is ZorderSpec's
    // gate; this entry proves the rewrite is lossless.
    Query("q_zorder_read", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"))
      // per-application path under the per-user 0700 scratch root: two
      // JVMs on the same machine + sfDir must not race
      // overwrite-vs-read on a shared directory (and an sfDir hashCode
      // collision must not serve the wrong dataset)
      val path = ops.StorageOps.scratchPath(
        s"zorder_${s.sparkContext.applicationId}_${math.abs(d.hashCode.toLong)}")
      ops.StorageOps.zorderWrite(li, path, "l_partkey", "l_suppkey", 16)
      ops.StorageOps.parquet(s, path)
        .filter(col("l_partkey") <= 200 && col("l_suppkey") <= 20)
        .orderBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"))
    },
      // identity under re-layout: the oracle never sees the z-ordered
      // copy — it runs the same predicate over the ORIGINAL parquet
      Sql(
      """SELECT l_orderkey, l_partkey, l_suppkey, l_quantity,
        |  l_extendedprice
        |FROM lineitem
        |WHERE l_partkey <= 200 AND l_suppkey <= 20
        |ORDER BY l_orderkey, l_partkey, l_suppkey, l_quantity,
        |  l_extendedprice""".stripMargin)),

    // Same identity-under-re-layout contract for the HILBERT-clustered
    // copy (tighter per-file bounding boxes than Morton at the same
    // write cost — measured in HilbertSpec); the oracle runs the
    // predicate over the ORIGINAL parquet.
    Query("q_hilbert_read", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"))
      val path = ops.StorageOps.scratchPath(
        s"hilbert_${s.sparkContext.applicationId}_${math.abs(d.hashCode.toLong)}")
      ops.StorageOps.hilbertWrite(li, path, "l_partkey", "l_suppkey", 16)
      ops.StorageOps.parquet(s, path)
        .filter(col("l_partkey") <= 200 && col("l_suppkey") <= 20)
        .orderBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"))
    }, Sql(
      """SELECT l_orderkey, l_partkey, l_suppkey, l_quantity,
        |  l_extendedprice
        |FROM lineitem
        |WHERE l_partkey <= 200 AND l_suppkey <= 20
        |ORDER BY l_orderkey, l_partkey, l_suppkey, l_quantity,
        |  l_extendedprice""".stripMargin)),

    // Skyline / Pareto frontier (Börzsönyi et al. 2001) — the
    // preference query: lineitems no other lineitem beats on BOTH
    // price (lower) and quantity (higher). ops.SkylineOps.skyline2D:
    // same-price groups collapse to their max quantity in one
    // aggregate, then the strictly-dominating prefix max over the
    // price order runs two-phase (range partition + per-partition
    // window + one bounded carry row per partition through the
    // driver — the withGlobalOffset discipline, never a global
    // window). Frontier rows are strictly increasing in BOTH columns
    // by construction.
    Query("q_skyline", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_extendedprice").as("price"),
          col("l_quantity").cast("long").as("qty"))
      ops.SkylineOps.skyline2D(li, "price", "qty")
        .orderBy(col("price"))
    },
      // Skyline: the definition replayed with a plain window (single
      // node — the oracle need not mirror the two-phase carry).
      Sql(
      """WITH g AS (
        |  SELECT l_extendedprice AS price,
        |         max(cast(l_quantity AS bigint)) AS qty
        |  FROM lineitem GROUP BY 1)
        |SELECT price, qty FROM (
        |  SELECT price, qty,
        |    max(qty) OVER (ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM g)
        |WHERE pm IS NULL OR qty > pm
        |ORDER BY price""".stripMargin)),

    // Dataset RELEASE DIFF — the audit table two corpus releases ship
    // between them: v2 deterministically derives from v1 (every 10th
    // doc deleted, every 7th surviving doc edited, one new doc per
    // 13th), then a full-outer md5 join classifies every id as
    // added / removed / changed / unchanged and each class emits its
    // count plus an md5 digest of the ordered id list — the whole
    // membership of every class is hash-certified, not just counted.
    // Shape: one co-keyed full-outer join on doc_id; 16-byte hashes
    // move, never text.
    Query("q_release_diff", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val v1 = docs.select(col("doc_id"), md5(col("text")).as("h1"))
      val v2 = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id"),
          md5(when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
            .as("h2"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(13)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            md5(col("text")).as("h2")))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") === col("h2"), "unchanged")
            .otherwise("changed"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          md5(concat_ws(",", transform(
            array_sort(collect_list(col("doc_id"))),
            x => x.cast("string"))).cast("binary")).as("ids_md5"))
        .orderBy(col("status"))
    },
      // Release diff: v2 derived by the same deterministic rules; the
      // ids_md5 digests certify every class's full membership.
      Sql(
      """WITH v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
        |             ELSE text END) AS h2
        |  FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS h2
        |  FROM documents WHERE doc_id % 13 = 0),
        |j AS (
        |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |    CASE WHEN v1.doc_id IS NULL THEN 'added'
        |         WHEN v2.doc_id IS NULL THEN 'removed'
        |         WHEN v1.h1 = v2.h2 THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT status, count(*) AS n,
        |  md5(string_agg(doc_id, ',' ORDER BY doc_id)) AS ids_md5
        |FROM j GROUP BY status ORDER BY status""".stripMargin)),

    // Hive-partitioned layout round-trip: write the corpus partitioned
    // by lang, read ONE language back — the scan must list only that
    // partition's directory (PartitionFilters in the plan, gated in
    // Round7Spec: the predicate is satisfied by directory pruning, no
    // row-level lang filter survives). This is THE layout decision a
    // per-language 100-TB corpus ships with: a language slice costs
    // its own bytes, not a full-corpus scan — complementary to
    // q_zorder_read (intra-file skipping) and the IVF index
    // (cell-directory pruning). The oracle never sees the partitioned
    // copy: it runs the same predicate over the original parquet, so
    // the entry also proves the re-layout is lossless.
    Query("q_partitioned_read", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val path = ops.StorageOps.scratchPath(
        s"partby_${s.sparkContext.applicationId}_${math.abs(d.hashCode.toLong)}")
      docs.write.mode("overwrite").partitionBy("lang").parquet(path)
      ops.StorageOps.parquet(s, path)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // identity under re-layout: the oracle runs the same predicate
      // over the ORIGINAL parquet, never the partitioned copy
      Sql(
      """SELECT doc_id, lang, source, n_chars
        |FROM documents WHERE lang = 'en'
        |ORDER BY doc_id""".stripMargin)),

    // Schema-evolution read: two corpus batches written with DIFFERENT
    // parquet schemas (an early release with just text, a later one
    // that added lang/source but dropped the text payload) read back
    // as ONE table via mergeSchema — footer-level schema union, absent
    // columns surfacing as NULL. This is the lakehouse contract when a
    // dataset adds columns between releases; no rewrite of old
    // batches. The oracle recomputes the union over the ORIGINAL
    // table, proving the merged read lossless and NULL-correct.
    Query("q_schema_evolution", (s, d) => {
      val docs = t(s, d, "documents")
      val path = ops.StorageOps.scratchPath(
        s"schevo_${s.sparkContext.applicationId}_${math.abs(d.hashCode.toLong)}")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$path/v1")
      docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)
        .select(col("doc_id"), col("lang"), col("source"))
        .write.mode("overwrite").parquet(s"$path/v2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$path/v1", s"$path/v2")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
      // The merged-schema read must equal this union over the original
      // table: absent columns are NULL, nothing else changes.
      Sql(
      """SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang,
        |  CAST(NULL AS VARCHAR) AS source
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS VARCHAR), lang, source
        |FROM documents WHERE doc_id % 2 <> 0
        |ORDER BY doc_id""".stripMargin)),

    // Gopher repetition filters (Rae et al. 2021, Table A1) — the
    // repetition half of the quality rulebook q_gopher_quality's
    // length/symbol rules don't cover. Per document: the fraction of
    // characters inside the single most frequent word n-gram
    // (n = 2,3,4; occurrences × gram chars / doc chars) and the
    // fraction of WORD characters covered by any duplicated n-gram
    // occurrence (n = 5..10; the UNION of covered positions — a
    // character under three overlapping duplicated 7-grams counts
    // once). Physical shape is the point at 100 TB: SHUFFLE-FREE —
    // all nine metrics come from ONE compiled kernel pass per row
    // (SketchKernels.gopherRepetition: byte-slice grams, one count
    // map per n, byte-order (cnt DESC, gram ASC) tiebreaks) emitting
    // exact integers; only the fractions and round(4) stay in the SQL
    // layer. Plan-gated in Round10cSpec at ZERO Exchanges of any
    // kind. (A 9-window formulation — one Exchange + nine
    // in-partition sorts — was the first cut and measured 7.8 s at
    // sf0.1; that window description survives ONLY in the DuckDB
    // oracle replay below, which audits the same semantics with
    // lead/count/max windows and the fixed-width (1e8−cnt)‖gram
    // argmax key.)
    Query("pipeline_gopher_repetition", (s, d) =>
      ops.TextOps.gopherRepetition(tk(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      // Gopher repetition filters: replays the lead-built grams, the
      // per-(doc, gram) count windows, the sliding coverage maxima, and
      // the fixed-width (1e8−cnt)‖gram argmax key byte for byte.
      Sql {
      val leads = (1 to 9).map(k =>
        s"lead(word, $k) OVER dw AS l$k").mkString(",\n    ")
      val grams = (2 to 10).map { n =>
        val parts = ("word" +: (1 until n).map(k => s"l$k"))
          .mkString(" || ' ' || ")
        s"CASE WHEN pos <= n_words - $n THEN $parts END AS g$n"
      }.mkString(",\n    ")
      val cnts = (2 to 10).map(n =>
        s"CASE WHEN g$n IS NOT NULL THEN count(*) OVER " +
          s"(PARTITION BY doc_id, g$n) END AS c$n").mkString(",\n    ")
      val covs = (5 to 10).map(n =>
        s"max(CASE WHEN g$n IS NOT NULL AND c$n >= 2 THEN 1 ELSE 0 END) " +
          s"OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN " +
          s"${n - 1} PRECEDING AND CURRENT ROW) AS cov$n")
        .mkString(",\n    ")
      val keys = (2 to 4).map(n =>
        s"min(CASE WHEN g$n IS NOT NULL THEN lpad(cast(100000000 - c$n " +
          s"AS varchar), 9, '0') || g$n END) AS k$n").mkString(",\n    ")
      val covchs = (5 to 10).map(n =>
        s"sum(CASE WHEN cov$n = 1 THEN length(word) ELSE 0 END) " +
          s"AS covch$n").mkString(",\n    ")
      val tops = (2 to 4).map(n =>
        s"coalesce(round((100000000 - cast(substr(k$n, 1, 9) AS bigint))" +
          s" * (length(k$n) - 9) / len_text, 4), 0.0) AS top$n")
        .mkString(",\n    ")
      val dups = (5 to 10).map(n =>
        s"CASE WHEN wchars = 0 THEN 0.0 ELSE " +
          s"round(cast(covch$n AS double) / wchars, 4) END AS dup$n")
        .mkString(",\n    ")
      s"""WITH base AS (
         |  SELECT doc_id, length(text) AS len_text,
         |    string_split(text, ' ') AS w
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, len_text, len(w) AS n_words, w[i] AS word,
         |    i - 1 AS pos
         |  FROM base, LATERAL unnest(generate_series(1, len(w))) t(i)),
         |led AS (
         |  SELECT *,
         |    $leads
         |  FROM tok
         |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
         |g AS (
         |  SELECT *,
         |    $grams
         |  FROM led),
         |c AS (
         |  SELECT *,
         |    $cnts
         |  FROM g),
         |cov AS (
         |  SELECT *,
         |    $covs
         |  FROM c),
         |agg AS (
         |  SELECT doc_id,
         |    $keys,
         |    $covchs,
         |    sum(length(word)) AS wchars,
         |    any_value(len_text) AS len_text
         |  FROM cov GROUP BY doc_id),
         |fr AS (
         |  SELECT doc_id,
         |    $tops,
         |    $dups
         |  FROM agg)
         |SELECT *,
         |  cast((top2 <= 0.20 AND top3 <= 0.18 AND top4 <= 0.16 AND
         |        dup5 <= 0.15 AND dup6 <= 0.14 AND dup7 <= 0.13 AND
         |        dup8 <= 0.12 AND dup9 <= 0.11 AND dup10 <= 0.10)
         |    AS bigint) AS pass
         |FROM fr ORDER BY doc_id""".stripMargin
    }),

    // ★ r12: corrupt-payload QUARANTINE lane — the production gap
    // every crawl hits on day one: ONE corrupt blob must land in a
    // quarantined row with a stable error class, not kill the stage.
    // The corpus is the clean mixed-format image table with one
    // corruption class PLANTED per doc_id mod 8 (junk magic / hostile
    // dims / truncated plane / flipped CRC bit — see
    // ops.QuarantineOps.corruptImageTable), decoded by the UNCHANGED
    // fail-loud codecs under the attempt() wrapper. Classes come from
    // the decoders' own diagnostics (the codec family's shared
    // message vocabulary), never from knowledge of the planting; the
    // oracle replays status + class from the planting arithmetic and
    // the clean rows' full pixel witnesses — so a match certifies
    // both that every planted corruption was caught AND that good
    // rows are byte-identical to the all-clean run (QuarantineSpec
    // additionally proves row equality against multimodal_mixed's
    // path).
    Query("pipeline_quarantine", (s, d) => {
      ops.QuarantineOps.tryDecodeImageAll(s,
        ops.QuarantineOps.corruptImageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("status"), col("error_class"),
          col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // Replays the quarantine lane end-to-end from the planting
      // arithmetic: docs 0..4 mod 8 carry one corruption class each
      // (junk magic / hostile PPM dims / truncated plane / flipped IDAT
      // CRC bit / truncated JPEG tail → the decoder classes below),
      // docs 5..7 mod 8 are the untouched mixed-format payload whose
      // full pixel plane the clean rows must still witness byte-exactly.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) AS cp0,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * i) % 256) as bigint) AS px_sum
        |  FROM sz, LATERAL unnest(generate_series(0, w * h * 3 - 1)) t(i)
        |  WHERE doc_id % 8 >= 5
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  CASE WHEN sz.doc_id % 8 <= 4 THEN 'quarantined'
        |       ELSE 'ok' END AS status,
        |  CASE sz.doc_id % 8
        |    WHEN 0 THEN 'bad_magic' WHEN 1 THEN 'hostile_header'
        |    WHEN 2 THEN 'truncated' WHEN 3 THEN 'integrity'
        |    WHEN 4 THEN 'truncated'
        |    ELSE NULL END AS error_class,
        |  CASE WHEN sz.doc_id % 8 >= 5
        |    THEN cast(w as integer) END AS width,
        |  CASE WHEN sz.doc_id % 8 >= 5
        |    THEN cast(h as integer) END AS height,
        |  CASE WHEN sz.doc_id % 8 >= 5 THEN
        |    CASE cp0 % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
        |      ELSE 'png' END END AS format,
        |  px.px_sum
        |FROM sz LEFT JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ★ r12: the quarantine lane THREADED THROUGH THE INGEST LOOP —
    // the end-to-end production shape: batches arrive as gzip BLOBS,
    // the loop decodes each batch once (payload mode), corrupt blobs
    // land in the quarantine artifact under the SAME exactly-once
    // tagged-overwrite discipline as the pack manifest (redelivery
    // REPLACES the tag's files; the committed-tag replay below is a
    // structural no-op — duplicate rows would break the oracle hash),
    // and only cleanly decoded text reaches the gates. Corruption is
    // planted by pure arithmetic (doc_id mod 10 = 2 → magic
    // overwrite, = 7 → ISIZE trailer flip), so the oracle replays the
    // artifact rows — batch, doc_id, and the decoder's own error
    // class — without seeing a payload byte.
    Query("pipeline_ingest_quarantine", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val run = java.util.UUID.randomUUID().toString.take(12)
      val key = s"ingq_$run"
      ops.IngestOps.buildInventory(s, key,
        docs.filter(lit(false)), "text")
      val qdir = ops.StorageOps.scratchPath(s"ingq_quar_$run")
      // heterogeneous blobs, the real crawl mix: every third doc a
      // checksummed zstd frame, the rest gzip members — the loop's
      // decode stage dispatches per row by magic. Corruption rules
      // are codec-agnostic: a magic overwrite is bad_magic either
      // way; a flipped final byte lands in the gzip ISIZE trailer or
      // the zstd frame checksum — both integrity by the decoders'
      // own diagnosis.
      // NO fan-out here (measured r14): the loop's ~80 per-batch jobs
      // inherit the generator's partitioning, and 32-way batches turn
      // every tiny per-batch stage into 32 tasks — wall went 4.1 s ->
      // 5.4 s when this projection was fanned out. The 1-task encode
      // is cheaper than widening the whole loop.
      val payloads = docs
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions { rows =>
          val defl = new java.util.zip.Deflater(
            java.util.zip.Deflater.BEST_SPEED, true)
          val zc = new com.github.luben.zstd.ZstdCompressCtx()
            .setLevel(3).setChecksum(true)
          ops.Multimodal.endOnTaskCompletion { () =>
            defl.end(); zc.close()
          }
          val crc = new java.util.zip.CRC32()
          rows.map { case (id, text) =>
            val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val b =
              if (id % 3 == 0) zc.compress(raw)
              else {
                val out = new java.io.ByteArrayOutputStream()
                ops.CompressedOps.gzipMember(raw, defl, crc, out)
                out.toByteArray
              }
            if (id % 10 == 2) { b(0) = 'Z'.toByte; b(1) = 'Z'.toByte }
            else if (id % 10 == 7)
              b(b.length - 1) = (b(b.length - 1) ^ 0x10).toByte
            (id, b)
          }
        }
        .toDF("doc_id", "content")
        .localCheckpoint(true)
      val loop = new graft.streaming.IngestLoop(s, key, "doc_id",
        "text", None, 16, None, None, None,
        payloadCol = Some("content"), quarantineDir = Some(qdir))
      val b0 = payloads.filter(pmod(col("doc_id"), lit(2)) === 0)
      loop.processBatch(b0, "b0")
      loop.processBatch(b0, "b0") // committed-tag redelivery: no-op
      loop.processBatch(
        payloads.filter(pmod(col("doc_id"), lit(2)) =!= 0), "b1")
      val rep = loop.quarantineReport
        .select(col("batch"), col("doc_id"), col("error_class"))
        .orderBy(col("batch"), col("doc_id"))
        .localCheckpoint(true)
      ops.IngestOps.dropInventory(key)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(qdir))
      rep
    },
      // Replays the ingest loop's quarantine artifact from the planting
      // arithmetic: batch = parity, class = the decoder's diagnosis per
      // rule (magic overwrite → bad_magic, ISIZE flip → integrity). A
      // duplicate row from a mishandled redelivery would break the hash.
      Sql(
      """SELECT 'b' || cast(doc_id % 2 as varchar) AS batch, doc_id,
        |  CASE doc_id % 10 WHEN 2 THEN 'bad_magic'
        |    ELSE 'integrity' END AS error_class
        |FROM documents
        |WHERE doc_id % 10 = 2 OR doc_id % 10 = 7
        |ORDER BY batch, doc_id""".stripMargin)),

    // ★ r12: the quarantine lane's per-class ACCOUNTING — the
    // operational dashboard row a crawl ingest reconciles against
    // (accepted + quarantined-by-class == seen): counts and witness
    // totals per (status, error_class). Tiny aggregate over the lane;
    // NULL classes coalesce to 'none' so the cross-engine sort is
    // total.
    Query("pipeline_quarantine_stats", (s, d) => {
      ops.QuarantineOps.tryDecodeImageAll(s,
        ops.QuarantineOps.corruptImageTable(s, t(s, d, "documents")))
        .toDF()
        .groupBy(col("status"),
          coalesce(col("error_class"), lit("none")).as("error_class"))
        .agg(count(lit(1)).as("n"), sum(col("px_sum")).as("px_total"))
        .orderBy(col("status"), col("error_class"))
    },
      // The per-class accounting over the same planting arithmetic —
      // counts and clean-row pixel totals reconcile to the corpus size.
      Sql(
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * i) % 256) as bigint) AS px_sum
        |  FROM sz, LATERAL unnest(generate_series(0, w * h * 3 - 1)) t(i)
        |  WHERE doc_id % 8 >= 5
        |  GROUP BY doc_id),
        |lane AS (
        |  SELECT sz.doc_id,
        |    CASE WHEN sz.doc_id % 8 <= 4 THEN 'quarantined'
        |         ELSE 'ok' END AS status,
        |    CASE sz.doc_id % 8
        |      WHEN 0 THEN 'bad_magic' WHEN 1 THEN 'hostile_header'
        |      WHEN 2 THEN 'truncated' WHEN 3 THEN 'integrity'
        |      WHEN 4 THEN 'truncated'
        |      ELSE 'none' END AS error_class,
        |    px.px_sum
        |  FROM sz LEFT JOIN px USING (doc_id))
        |SELECT status, error_class,
        |  cast(count(*) as bigint) AS n,
        |  cast(sum(px_sum) as bigint) AS px_total
        |FROM lane GROUP BY status, error_class
        |ORDER BY status, error_class""".stripMargin))
  )
}
