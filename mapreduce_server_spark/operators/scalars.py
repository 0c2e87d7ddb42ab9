"""Scalar function bundles (SURVEY.md §2 cat. H).

The reference class exposes scalar computation as arbitrary per-record user
code in map functions [MR04 §2]; here each family is a bundle of built-in
JVM-side expressions (whole-stage-codegen'd — never Python UDFs, which are
the K-category demos only).

Dialect notes baked into the oracle SQL:
- DuckDB ``regexp_replace`` replaces the first match unless the 'g' flag is
  given; Spark's replaces all → oracle uses 'g'.
- Spark integer-ish scalars (length/instr/year/datediff) return INT while
  DuckDB returns BIGINT → Spark side casts to long.
- ``round`` on doubles is only used for values with long non-terminating
  decimal expansions (ln/sqrt/sum-of-products outputs): Spark rounds the
  shortest decimal rendering (BigDecimal.valueOf) while DuckDB rounds the
  binary value, so rounding clean 2-decimal data at coarser scale would
  mismatch on exact .x5 renderings. Never round money columns directly.
- double→int casts: Spark truncates, DuckDB rounds → use explicit floor()
  on both sides instead of bare casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import dot
from ..registry import query
from ..sources.loader import Tables


@query(
    "scalar_string",
    category="H.scalar",
    oracle="""
SELECT
  p_partkey,
  lower(p_name)  AS name_lower,
  upper(p_brand) AS brand_upper,
  trim(concat('  ', p_type, ' ')) AS type_trim,
  length(p_name) AS name_len,
  substring(p_name, 1, 8) AS name_prefix,
  concat_ws('-', p_brand, p_type) AS brand_type,
  string_split(p_type, ' ')[1] AS type_first_word,
  regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
  lpad(p_brand, 12, '*') AS brand_padded,
  strpos(p_name, 'a') AS a_pos
FROM part
""",
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function bundle over part."""
    p = Tables(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit(" "))).alias("type_trim"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_first_word"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.instr("p_name", "a").cast("long").alias("a_pos"),
    )


@query(
    "scalar_date",
    category="H.scalar",
    oracle="""
SELECT
  o_orderkey,
  year(o_orderdate)  AS o_year,
  month(o_orderdate) AS o_month,
  day(o_orderdate)   AS o_day,
  isodow(o_orderdate) - 1 AS o_weekday,
  date_trunc('month', o_orderdate)::DATE::VARCHAR AS month_start,
  (o_orderdate + INTERVAL 30 DAY)::DATE::VARCHAR AS due_date,
  datediff('day', o_orderdate, DATE '2002-01-01') AS days_to_2002,
  epoch(o_orderdate)::BIGINT AS epoch_s,
  strftime(o_orderdate, '%Y-%m') AS month_str
FROM orders
WHERE o_orderkey % 10 = 0
""",
)
def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function bundle over orders (weekday normalized to
    Monday=0 on both engines — their native conventions differ). Demo
    rows capped by a deterministic modulo filter pushed to the scan
    (VERDICT r6 §next #2)."""
    o = Tables(spark, sf_dir).orders.filter(F.col("o_orderkey") % 10 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        F.weekday("o_orderdate").cast("long").alias("o_weekday"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").cast("string").alias("month_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).cast("string").alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_to_2002"),
        # o_orderdate loads as TIMESTAMP_NTZ; session tz is pinned UTC so the
        # cast to instant-TIMESTAMP matches DuckDB's naive epoch().
        F.unix_seconds(F.col("o_orderdate").cast("timestamp")).alias("epoch_s"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month_str"),
    )


@query(
    "scalar_math",
    category="H.scalar",
    oracle="""
SELECT
  l_orderkey,
  l_linenumber,
  abs(l_extendedprice - 50000) AS abs_dev,
  floor(l_extendedprice)::BIGINT AS price_floor,
  ceil(l_extendedprice)::BIGINT  AS price_ceil,
  CASE WHEN l_extendedprice > 0
       THEN round(ln(l_extendedprice), 6) END    AS ln_price,
  CASE WHEN l_extendedprice > 0
       THEN round(log10(l_extendedprice), 6) END AS log10_price,
  CASE WHEN l_quantity >= 0
       THEN round(sqrt(l_quantity), 6) END       AS sqrt_qty,
  round(pow(1 + l_discount, 2), 6) AS pow_disc,
  floor(l_quantity + 0.5)::BIGINT % 7 AS qty_mod7,
  sign(l_extendedprice - 50000)::DOUBLE AS dev_sign,
  least(l_extendedprice, 50000.0)   AS price_capped,
  greatest(l_quantity, 25.0)        AS qty_floored
FROM lineitem
WHERE l_orderkey % 50 = 0
""",
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function bundle over lineitem; transcendentals (ln/log10/sqrt/
    pow) rounded to 6 dp — libm implementations may differ in the last ulp
    between JVM and C++. Domain contract (round-12 negative-measure
    axis): ln/log10/sqrt of out-of-domain input is NULL, spelled with
    explicit guards on BOTH engines — Spark's F.log already returns
    NULL there but F.sqrt returns NaN and DuckDB THROWS, so a refund
    row (negative price/quantity) must not crash or NaN-pollute the
    bundle. The qty_mod7 floor(x+0.5) idiom rounds halves toward +inf
    (-2.5 -> -2, not half-away-from-zero) — identical spelling on both
    engines, so ties cannot straddle (ARCHITECTURE §23 tie-direction
    note). Demo rows are capped by a deterministic modulo filter
    (pushed to the scan) so the breadth bench measures expression cost,
    not driver transfer (VERDICT r6 §next #2)."""
    li = Tables(spark, sf_dir).lineitem.filter(F.col("l_orderkey") % 50 == 0)
    ep = F.col("l_extendedprice")
    qty = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(ep - 50000).alias("abs_dev"),
        F.floor(ep).alias("price_floor"),
        F.ceil(ep).alias("price_ceil"),
        F.when(ep > 0, F.round(F.log(ep), 6)).alias("ln_price"),
        F.when(ep > 0, F.round(F.log10(ep), 6)).alias("log10_price"),
        F.when(qty >= 0, F.round(F.sqrt(qty), 6)).alias("sqrt_qty"),
        F.round(F.pow(1 + F.col("l_discount"), 2), 6).alias("pow_disc"),
        (F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long") % 7).alias("qty_mod7"),
        F.signum(ep - 50000).alias("dev_sign"),
        F.least(ep, F.lit(50000.0)).alias("price_capped"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_floored"),
    )


@query(
    "scalar_cond",
    category="H.scalar",
    oracle="""
SELECT
  o_orderkey,
  CASE WHEN o_totalprice >= 300000 THEN 'large'
       WHEN o_totalprice >= 100000 THEN 'medium'
       ELSE 'small' END AS size_tier,
  CASE WHEN o_orderstatus = 'O' THEN 'open' ELSE 'closed' END AS open_flag,
  coalesce(nullif(o_orderpriority, '4-NOT SPECIFIED'), 'unknown') AS prio_clean,
  cast(o_orderkey AS VARCHAR) AS key_str,
  cast(substring(o_orderpriority, 1, 1) AS BIGINT) AS prio_num,
  floor(o_totalprice / 1000)::BIGINT AS price_k
FROM orders
WHERE o_orderkey % 10 = 0
""",
)
def scalar_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditionals and casts over orders. The double→int path goes
    through floor() on both sides (bare casts disagree: Spark truncates,
    DuckDB rounds). Demo rows capped by a deterministic modulo filter
    pushed to the scan (VERDICT r6 §next #2)."""
    o = Tables(spark, sf_dir).orders.filter(F.col("o_orderkey") % 10 == 0)
    tp = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(tp >= 300000, "large")
        .when(tp >= 100000, "medium")
        .otherwise("small")
        .alias("size_tier"),
        F.when(F.col("o_orderstatus") == "O", "open")
        .otherwise("closed")
        .alias("open_flag"),
        F.coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")),
            F.lit("unknown"),
        ).alias("prio_clean"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("prio_num"),
        F.floor(tp / 1000).alias("price_k"),
    )


@query(
    "scalar_array",
    category="H.scalar",
    oracle="""
SELECT
  vec_id,
  len(embedding) AS dim,
  embedding[1]::DOUBLE AS first_elem,
  list_contains(embedding, embedding[1]) AS has_first,
  list_sort(embedding[1:4])[1]::DOUBLE AS s4_a,
  list_sort(embedding[1:4])[2]::DOUBLE AS s4_b,
  list_sort(embedding[1:4])[3]::DOUBLE AS s4_c,
  list_sort(embedding[1:4])[4]::DOUBLE AS s4_d,
  round(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), 6)
      AS norm_sq,
  round(list_sum(list_transform(list_zip(embedding, list_reverse(embedding)),
                                p -> p[1]::DOUBLE * p[2]::DOUBLE)), 6)
      AS dot_reversed
FROM embeddings
""",
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function bundle over embeddings: size/element_at/contains/
    slice/sort plus the transform/aggregate/zip_with fold primitives the
    similarity operators build on (north-star multimodal columns)."""
    e = Tables(spark, sf_dir).embeddings
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(emb).cast("long").alias("dim"),
        F.element_at(emb, 1).cast("double").alias("first_elem"),
        F.array_contains(emb, F.element_at(emb, 1)).alias("has_first"),
        *[
            F.element_at(F.sort_array(F.slice(emb, 1, 4)), i + 1)
            .cast("double")
            .alias(n)
            for i, n in enumerate(["s4_a", "s4_b", "s4_c", "s4_d"])
        ],
        F.expr(f"round({dot('embedding', 'embedding')}, 6)").alias("norm_sq"),
        F.expr(f"round({dot('embedding', 'reverse(embedding)')}, 6)").alias(
            "dot_reversed"
        ),
    )


@query(
    "scalar_json",
    category="H.scalar",
    oracle="""
SELECT
  event_id,
  json_extract_string(props, '$.k')::BIGINT AS k_path,
  json_extract_string(props, '$.k')::BIGINT AS k_schema,
  json_extract_string(props, '$.k')::BIGINT % 10 AS k_bucket
FROM events
WHERE event_id % 10 = 0
""",
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over events.props — both the path-string form
    (get_json_object ≙ json_extract_string) and the typed from_json parse
    (schema-on-read for the JSON-in-string column, SURVEY §1.1). Demo
    rows capped by a deterministic modulo filter pushed to the scan."""
    ev = Tables(spark, sf_dir).events.filter(F.col("event_id") % 10 == 0)
    k_path = F.get_json_object("props", "$.k").cast("long")
    k_schema = F.from_json("props", "k LONG").getField("k")
    return ev.select(
        "event_id",
        k_path.alias("k_path"),
        k_schema.alias("k_schema"),
        (k_path % 10).alias("k_bucket"),
    )


@query(
    "scalar_bitwise",
    category="H.scalar",
    oracle="""
SELECT event_id,
       event_id & 255 AS low_byte,
       event_id | 4096 AS with_flag,
       xor(event_id, 1023) AS xored,
       event_id << 2 AS shifted_l,
       event_id >> 3 AS shifted_r,
       bit_count(event_id) AS n_bits
FROM events
""",
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator bundle over event ids (hash/bucket plumbing —
    the primitives the LSH/banding operators build on)."""
    ev = Tables(spark, sf_dir).events
    eid = F.col("event_id")
    return ev.select(
        "event_id",
        eid.bitwiseAND(F.lit(255)).alias("low_byte"),
        eid.bitwiseOR(F.lit(4096)).alias("with_flag"),
        eid.bitwiseXOR(F.lit(1023)).alias("xored"),
        F.shiftleft(eid, 2).alias("shifted_l"),
        F.shiftright(eid, 3).alias("shifted_r"),
        F.bit_count(eid).cast("long").alias("n_bits"),
    )


@query(
    "scalar_trig",
    category="H.scalar",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(sin(l_discount), 6) AS sin_d,
       round(cos(l_discount), 6) AS cos_d,
       round(atan2(l_quantity, l_extendedprice), 6) AS angle,
       round(degrees(atan2(l_quantity, l_extendedprice)), 6) AS angle_deg,
       round(exp(l_discount), 6) AS exp_d
FROM lineitem
WHERE l_orderkey % 50 = 0
""",
)
def scalar_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric/exponential bundle (rounded to 6 dp — libm drift,
    same policy as scalar_math, including its modulo demo cap)."""
    li = Tables(spark, sf_dir).lineitem.filter(F.col("l_orderkey") % 50 == 0)
    d = F.col("l_discount")
    at = F.atan2(F.col("l_quantity"), F.col("l_extendedprice"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sin(d), 6).alias("sin_d"),
        F.round(F.cos(d), 6).alias("cos_d"),
        F.round(at, 6).alias("angle"),
        F.round(F.degrees(at), 6).alias("angle_deg"),
        F.round(F.exp(d), 6).alias("exp_d"),
    )


@query(
    "scalar_hash",
    category="H.scalar",
    oracle="""
SELECT doc_id,
       md5(text) AS h_md5,
       sha256(text) AS h_sha256,
       substring(md5(lang || ':' || text), 1, 16) AS h_salted
FROM documents
""",
)
def scalar_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic hash bundle (content addressing / fingerprint
    plumbing; both engines emit lowercase hex). The oracle's salt
    concat is spelled `||` (NULL-propagating, matching Spark's
    F.concat) — DuckDB's concat() SKIPS NULL arguments, so a NULL lang
    would silently hash an unsalted string there (round-11 NULL
    axis)."""
    d = Tables(spark, sf_dir).documents
    txt = F.col("text").cast("binary")
    return d.select(
        "doc_id",
        F.md5(txt).alias("h_md5"),
        F.sha2(txt, 256).alias("h_sha256"),
        F.substring(
            F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("text")).cast("binary")),
            1,
            16,
        ).alias("h_salted"),
    )


@query(
    "scalar_array_setops",
    category="H.scalar",
    oracle="""
WITH t AS (SELECT doc_id,
                  string_split(text, ' ')[1:6]  AS a,
                  string_split(text, ' ')[4:10] AS b
           FROM documents)
SELECT doc_id,
       array_to_string(list_sort(list_distinct(list_concat(a, b))), ',')
           AS union_ab,
       CASE WHEN a IS NOT NULL THEN
         coalesce(array_to_string(list_sort(list_distinct(
             list_filter(a, x -> list_contains(b, x)))), ','), '')
       END AS intersect_ab,
       CASE WHEN a IS NOT NULL THEN
         coalesce(array_to_string(list_sort(list_distinct(
             list_filter(a, x -> NOT list_contains(b, x)))), ','), '')
       END AS except_ab
FROM t
""",
)
def scalar_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set operations (union/intersect/except over token slices),
    canonicalized by sort+distinct and emitted as joined strings. NULL
    text → NULL arrays → ALL outputs NULL (Spark's array fns and
    array_join propagate); the oracle's empty-list coalesce is CASE-
    guarded so it only fires on real (non-NULL) inputs (round-11
    NULL-text axis)."""
    d = Tables(spark, sf_dir).documents
    toks = F.split("text", " ")
    a = F.slice(toks, 1, 6)
    b = F.slice(toks, 4, 7)

    def canon(arr):
        return F.array_join(F.array_sort(F.array_distinct(arr)), ",")

    return d.select(
        "doc_id",
        canon(F.concat(a, b)).alias("union_ab"),
        canon(F.array_intersect(a, b)).alias("intersect_ab"),
        canon(F.array_except(a, b)).alias("except_ab"),
    )


@query(
    "scalar_format",
    category="H.scalar",
    oracle="""
SELECT p_partkey,
       printf('P%05d-%s', p_partkey, p_brand)      AS part_code,
       lpad(p_brand, 12, '*')                      AS brand_lpad,
       rpad(p_type, 10, '.')                       AS type_rpad,
       repeat('-', p_size % 5)                     AS size_dashes,
       reverse(p_type)                             AS type_rev,
       translate(p_type, 'AEO', 'aeo')             AS type_tr,
       replace(p_name, ' ', '_')                   AS name_snake,
       printf('%x', p_partkey * 2654435761)        AS key_hex
FROM part
""",
)
def scalar_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting bundle: printf-style templating (Java Formatter
    ≡ DuckDB printf for %d/%s/%x), padding, repetition, translate. All
    JVM-side codegen'd expressions; integer-only printf args so the two
    engines' float-rendering differences never enter."""
    p = Tables(spark, sf_dir).part
    return p.select(
        "p_partkey",
        F.format_string("P%05d-%s", "p_partkey", "p_brand").alias("part_code"),
        F.lpad("p_brand", 12, "*").alias("brand_lpad"),
        F.rpad("p_type", 10, ".").alias("type_rpad"),
        F.repeat(F.lit("-"), (F.col("p_size") % 5).cast("int")).alias("size_dashes"),
        F.reverse("p_type").alias("type_rev"),
        F.translate("p_type", "AEO", "aeo").alias("type_tr"),
        F.replace("p_name", F.lit(" "), F.lit("_")).alias("name_snake"),
        F.format_string("%x", F.col("p_partkey") * F.lit(2654435761)).alias("key_hex"),
    )


@query(
    "scalar_url",
    category="H.scalar",
    oracle="""
WITH u AS (
  SELECT doc_id, source, lang,
         'https://' || source || '.example.org/docs/' || doc_id
             || '?lang=' || lang || '&v=2'                  AS url
  FROM documents
)
SELECT doc_id, url,
       CASE WHEN url IS NOT NULL
            THEN source || '.example.org' END               AS host,
       CASE WHEN url IS NOT NULL THEN '/docs/' || doc_id END AS path,
       CASE WHEN url IS NOT NULL
            THEN 'lang=' || lang || '&v=2' END              AS query,
       CASE WHEN url IS NOT NULL THEN lang END              AS lang_param,
       CASE WHEN url IS NOT NULL THEN 'https' END           AS protocol
FROM u
""",
)
def scalar_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing: a URL is synthesized from fixture columns (the corpus
    has no URL column), then decomposed with Spark's ``parse_url``
    (HOST/PATH/QUERY/param/PROTOCOL). The oracle states the ground-truth
    components directly from the same source columns, so the check is
    that parse_url inverts the construction exactly. When any input
    column is NULL the whole url is NULL (`||`/F.concat both propagate)
    and every parsed component is NULL — the oracle guards every
    component on ``url IS NOT NULL`` (computed by the same `||` chain),
    so nullability propagates from the identical expression on both
    engines whichever input was NULL (round-12 ADVICE closure of the
    lang-only guard)."""
    d = Tables(spark, sf_dir).documents
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org/docs/"),
        F.col("doc_id"), F.lit("?lang="), F.col("lang"), F.lit("&v=2"),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url(url, F.lit("PROTOCOL")).alias("protocol"),
    )


@query(
    "scalar_ip",
    category="H.scalar",
    oracle="""
WITH ips AS (
  SELECT event_id,
         (user_id % 223 + 1) || '.' || (floor(value)::BIGINT % 256) || '.'
             || (event_id % 256) || '.' || ((event_id // 256) % 256) AS ip
  FROM events WHERE event_id % 10 = 0
), oct AS (
  SELECT event_id, ip,
         string_split(ip, '.')[1]::BIGINT AS o1,
         string_split(ip, '.')[2]::BIGINT AS o2,
         string_split(ip, '.')[3]::BIGINT AS o3,
         string_split(ip, '.')[4]::BIGINT AS o4
  FROM ips
)
SELECT event_id, ip,
       o1 * 16777216 + o2 * 65536 + o3 * 256 + o4 AS ip_num,
       o1 || '.' || o2 || '.' || o3 || '.0/24'    AS subnet24,
       (o1 = 10 OR (o1 = 172 AND o2 >= 16 AND o2 <= 31)
                OR (o1 = 192 AND o2 = 168))        AS is_private
FROM oct
""",
)
def scalar_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IP address derivation: an IPv4 string is synthesized from event
    keys, then parsed back — octet split with cast, 32-bit numeric form,
    /24 subnet rollup key, RFC-1918 private-range classification. The
    subnet key is the canonical group-by for network-level aggregation at
    scale (clickstream rollups shuffle on subnet24, not raw IP). Demo
    rows capped by a deterministic modulo filter pushed to the scan
    (VERDICT r6 §next #2).

    NULL contract (round-11 axis): a NULL input octet means NO ip —
    the string is built with NULL-PROPAGATING F.concat (mirroring the
    oracle's `||`), never concat_ws: concat_ws SKIPS NULL parts and
    would emit a malformed 3-octet string whose 4th-octet element_at
    then THROWS under ANSI. All derived fields (octets, ip_num,
    subnet24, is_private) are NULL for a NULL ip on both engines; the
    oracle's is_private is a bare boolean expression, not a CASE, so
    the NULL propagates instead of collapsing to FALSE."""
    ev = Tables(spark, sf_dir).events.filter(F.col("event_id") % 10 == 0)
    dot = F.lit(".")
    ip = F.concat(
        (F.col("user_id") % 223 + 1).cast("string"),
        dot,
        (F.floor("value").cast("long") % 256).cast("string"),
        dot,
        (F.col("event_id") % 256).cast("string"),
        dot,
        (F.expr("event_id div 256") % 256).cast("string"),
    )
    oct_ = F.split(ip, "\\.")
    o = [F.try_element_at(oct_, F.lit(i)).cast("long") for i in (1, 2, 3, 4)]
    is_priv = (
        (o[0] == 10)
        | ((o[0] == 172) & (o[1] >= 16) & (o[1] <= 31))
        | ((o[0] == 192) & (o[1] == 168))
    )
    return ev.select(
        "event_id",
        ip.alias("ip"),
        (o[0] * 16777216 + o[1] * 65536 + o[2] * 256 + o[3]).alias("ip_num"),
        F.concat(
            o[0].cast("string"), dot, o[1].cast("string"), dot,
            o[2].cast("string"), F.lit(".0/24"),
        ).alias("subnet24"),
        is_priv.alias("is_private"),
    )


@query(
    "scalar_map",
    category="H.scalar",
    oracle="""
SELECT event_id,
       'type,user' AS m_keys,
       event_type AS type_val,
       2 AS m_size,
       3 AS merged_size,
       value * 2 AS b_val,
       concat('type=', event_type, ',user=', user_id) AS entries_csv
FROM events
WHERE event_id % 10 = 0
""",
)
def scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map function bundle (the H-header's map family): construction
    (create_map / map_from_arrays), lookup (element_at), introspection
    (map_keys / size / map_entries), merge (map_concat). Outputs are
    flattened to plain columns — map VALUES are verified through lookups
    and entry renderings, while the comparator never has to canonicalize
    a cross-engine map literal (Spark `{k -> v}` vs DuckDB `{k=v}`
    renderings differ; flattening sidesteps the dialect gap the same way
    scalar_array stringifies lists). Demo rows capped by a
    deterministic modulo filter pushed to the scan (VERDICT r6 §next
    #2)."""
    from ..sources.loader import Tables as _T

    ev = _T(spark, sf_dir).events.filter(F.col("event_id") % 10 == 0)
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("user"), F.col("user_id").cast("string")
    )
    m2 = F.map_from_arrays(
        F.array(F.lit("a"), F.lit("b")),
        F.array(F.col("value"), F.col("value") * 2),
    )
    merged = F.map_concat(m, F.create_map(F.lit("id"), F.col("event_id").cast("string")))
    # render a NULL map value as 'key=' (empty), NOT concat_ws (which
    # SKIPS null parts and would drop the '='): mirrors the oracle's
    # DuckDB concat(), which treats NULL args as '' (round-11 NULL axis)
    entries = F.transform(
        F.map_entries(m),
        lambda e: F.concat(
            e["key"], F.lit("="), F.coalesce(e["value"], F.lit(""))
        ),
    )
    return ev.select(
        "event_id",
        F.concat_ws(",", F.map_keys(m)).alias("m_keys"),
        F.element_at(m, F.lit("type")).alias("type_val"),
        F.size(m).cast("int").alias("m_size"),
        F.size(merged).cast("int").alias("merged_size"),
        F.element_at(m2, F.lit("b")).alias("b_val"),
        F.concat_ws(",", entries).alias("entries_csv"),
    )


@query(
    "scalar_variant",
    category="H.scalar",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k')::BIGINT AS k,
       json_extract_string(props, '$.k')::BIGINT % 7 AS k_mod
FROM events
WHERE json_extract_string(props, '$.k')::BIGINT > 90
""",
)
def scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: ``parse_json`` once
    into the binary Variant encoding, then typed ``variant_get`` paths —
    unlike ``get_json_object`` (which re-parses the JSON string per
    extraction), the parse cost is paid once and every subsequent path
    access is a cheap binary probe, the right trade at 100 TB where
    telemetry blobs carry many fields read many times. The filter on the
    extracted value stays a Catalyst predicate. Oracle extracts the same
    typed paths from the raw JSON text."""
    ev = Tables(spark, sf_dir).events
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    return (
        ev.select("event_id", k.alias("k"), (k % 7).alias("k_mod"))
        .where(F.col("k") > 90)
    )


@query(
    "scalar_try",
    category="H.scalar",
    oracle="""
SELECT event_id,
       CASE WHEN (event_id % 5) = 0 THEN NULL
            ELSE value / (event_id % 5) END AS safe_div,
       try_cast(substring(props, 8, 2) AS BIGINT) AS maybe_num,
       CASE WHEN len(string_split(props, ' ')) >= 3
            THEN string_split(props, ' ')[3] END AS maybe_elem
FROM events
""",
)
def scalar_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe scalar arithmetic — Spark 4 runs ANSI mode by DEFAULT,
    so division by zero, bad casts and out-of-range array access THROW
    at runtime unless the ``try_``-family forms are used. One malformed
    row among 10¹² killing a 6-hour job is the scale failure mode this
    family exists for: ``try_divide`` / ``try_cast`` / ``try_element_at``
    return NULL where the plain forms raise, keeping errors row-local
    data, not job outcomes. The oracle spells the same NULL semantics
    with guards (DuckDB divides-by-zero to inf/NaN rather than raising,
    so the CASE makes both engines emit NULL)."""
    ev = Tables(spark, sf_dir).events
    toks = F.split("props", " ")
    return ev.select(
        "event_id",
        F.try_divide("value", F.col("event_id") % 5).alias("safe_div"),
        F.try_to_number(
            F.substring("props", 8, 2), F.lit("99")
        ).cast("long").alias("maybe_num"),
        F.try_element_at(toks, F.lit(3)).alias("maybe_elem"),
    )
