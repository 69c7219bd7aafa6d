"""City-directories ETL surface, re-expressed Spark-first.

Reference behavior (see /root/reference/city-directories.js):
  parse   — OCR line text cleanup: dot-run collapse (:245), page/year
            windowing (:191-200)
  entry   — text → {subjects, occupations, locations[]} (entry-parser.js;
            the reference shells out per line to an external Python CRF —
            here the same contract is a pure JVM regex/array expression,
            no Python in the hot path)
  geocode — every parsed location joined against a historical address
            dataset (:272-323) → found/address/street or failure log
  transform — st:Person object assembly with makeId year.page.bbox
            (:261-270), validity interval (:416-417), Point/MultiPoint
            geometry (:325-336), st:in relations (:395-399)

The driver's ``documents`` table plays the OCR-line corpus (SURVEY §3):
directory/page/year/bbox surrogates and the entry line itself are
derived deterministically from ``doc_id``/``source`` with expressions
both Spark and the DuckDB oracle evaluate identically, so the oracle
replays the full pipeline bit-for-bit.

Scale notes: every step is a map-side column expression over the
corpus; the only joins are against tiny generated dims (directories,
addresses) which broadcast. No Python UDFs anywhere; the whole surface
stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_city_directories_spark.functions.memo import (
    plan_memo,
    rolling_persist,
    table_stamp,
)
from etl_city_directories_spark.sources.local import local_frame
from etl_city_directories_spark.sources.tables import load_table

NAMES = (
    "Smith John", "Brown Wm. H", "Miller Chas", "Johnson Thos. B",
    "Davis Geo. W", "Wilson Jas", "Taylor Robt", "Anderson Saml",
    "Thomas Edw. J", "Jackson Benj", "White Danl", "Harris Fredk",
)
OCCS = (
    "carpenter", "grocer", "clerk", "tailor",
    "smith", "porter", "mason", "printer",
)
STREETS = (
    "Broadway", "Elm", "Pearl", "Water", "Cherry",
    "Mulberry", "Greenwich", "Chambers", "Canal", "Orchard",
)

# geocode dim: address exists unless house number is divisible by 13
# (models the reference's geocoder misses, :303-308)
GEOCODE_MISS_MOD = 13
MIN_YEAR = 1855
MAX_YEAR = 1885
# cd_link_persons: max rows per (candidate-key, year) cell — denser
# cells are excluded whole from pair generation (deterministic,
# oracle-replayed); a cell that dense cannot be scored into reliable
# 1:1 person links, and without the cap its pair mass is quadratic
LINK_MAX_BLOCK = 64

_LOC_RE = "^(h )?[0-9]"


def _sql_list(items) -> str:
    return "[" + ", ".join(f"'{x}'" for x in items) + "]"


# ---------------------------------------------------------------------------
# shared line derivation — Spark side
# ---------------------------------------------------------------------------

def lines_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One directory-entry line per document, with directory surrogates.

    Mirrors the LINES_CTE below expression-for-expression; all
    deterministic arithmetic on doc_id so DuckDB replays it.

    r10: plan_memo'd — the expression tree is rebuilt identically by
    every cd_* key (hundreds of py4j calls); the cached object is the
    LAZY plan only, re-executed from parquet on every action.
    """
    return plan_memo(
        spark,
        ("cd_lines_plan", sf_dir, table_stamp(sf_dir, ("documents",))),
        lambda: _lines_df_build(spark, sf_dir),
    )


def _lines_df_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    name = F.element_at(F.array(*[F.lit(x) for x in NAMES]), (d % 12 + 1).cast("int"))
    occ = F.element_at(F.array(*[F.lit(x) for x in OCCS]), (d % 8 + 1).cast("int"))
    street = F.element_at(
        F.array(*[F.lit(x) for x in STREETS]), (d % 10 + 1).cast("int")
    )
    home_street = F.element_at(
        F.array(*[F.lit(x) for x in STREETS]), ((d * 3) % 10 + 1).cast("int")
    )
    house_num = (d * 7) % 300 + 1
    home_num = (d * 11) % 300 + 1
    year_lo = (d % 41 + 1849).cast("int")
    year_raw = F.when(
        d % 7 == 0,
        F.concat(
            year_lo.cast("string"),
            F.lit("/"),
            F.lpad(((year_lo + 1) % 100).cast("string"), 2, "0"),
        ),
    ).otherwise(year_lo.cast("string"))
    # OCR dot-run noise on every 5th doc; home segment on every 3rd
    occ_noisy = F.when(d % 5 == 0, F.concat(occ, F.lit("..."))).otherwise(occ)
    home_seg = F.when(
        d % 3 == 0,
        F.concat(F.lit(", h "), home_num.cast("string"), F.lit(" "), home_street),
    ).otherwise(F.lit(""))
    raw_line = F.concat(
        name, F.lit(",  "), occ_noisy, F.lit(", "),
        house_num.cast("string"), F.lit(" "), street, home_seg,
    )
    return docs.select(
        "doc_id",
        "source",
        F.regexp_extract("source", "([0-9]+)", 1).cast("int").alias("dir_id"),
        (d % 120 + 1).cast("int").alias("page_num"),
        year_lo.alias("year_lo"),
        year_raw.alias("year_raw"),
        ((d * 13) % 900).cast("int").alias("bx0"),
        ((d * 29) % 1300).cast("int").alias("by0"),
        raw_line.alias("raw_line"),
    )


def _clean(col: Column) -> Column:
    """Reference cleanup: collapse dot runs (city-directories.js:245)
    then normalize whitespace runs."""
    return F.trim(F.regexp_replace(F.regexp_replace(col, r"\.+", "."), "  +", " "))


def _segments(clean: Column) -> Column:
    return F.split(clean, ", ")


def _locs(segs: Column) -> Column:
    loc = F.filter(segs, lambda x: x.rlike(_LOC_RE))
    return F.transform(loc, lambda x: F.regexp_replace(x, "^h ", ""))


def _occs(segs: Column) -> Column:
    return F.filter(
        segs,
        lambda x, i: (i > 0) & ~x.rlike(_LOC_RE),
    )


# ---------------------------------------------------------------------------
# real-form entry parser (reference entry-parser.js fidelity path)
# ---------------------------------------------------------------------------
#
# The reference shells out per line to a trained CRF
# (entry-parser.js:23-36 spawns parse.py --training ...); its label set
# covers the recurring 1850s directory entry grammar. This is the same
# contract as a pure JVM column expression — a regex grammar over the
# comma-segmented line covering the high-frequency classes real pages
# hit first (tests/fixtures/sample_entries.hocr):
#
#   Smith Mary, widow of John, h 23 Pearl      widow relationship
#   Jones Sarah, wid. Peter, 14 Elm            'wid.' abbreviation
#   Brown Wm, lab., h 112 Elm                  abbreviated occupation
#   Miller Chas, clerk, bds 7 Pearl            boards-at location
#   Taylor Robt, tailor, r 88 Water            rear location
#   Wilson Jas, porter, h Pearl c Cherry       number-less corner home
#   Jones Thos, mason, 3 Cherry, h 5 Vine      work + home pair
#
# A marker-led segment is a location even WITHOUT a house number (the
# corner form); a bare leading number is a location (the work-address
# form); 'wid'/'widow' segments are a relationship, not an occupation.

_LOC_MARKER_RE = r"^(h|r|bds|b)\.?\s"
_LOC_FULL_RE = rf"(?:{_LOC_MARKER_RE})|^[0-9]"
_WIDOW_RE = r"^wid(ow)?\.?(\sof)?\s"


def _loc_type(seg: Column) -> Column:
    m = F.regexp_extract(seg, r"^(h|r|bds|b)\.?\s", 1)
    return (
        F.when(m == "h", F.lit("home"))
        .when(m == "r", F.lit("rear"))
        .when((m == "bds") | (m == "b"), F.lit("boards"))
        .otherwise(F.lit("address"))
    )


def parse_entry_struct(text: Column) -> Column:
    """Parse one cleaned directory line into the entry-parser contract:
    struct(subject, occupations[], widow_of,
    locations[] as struct(value, loc_type)).
    """
    segs = _segments(_clean(text))
    rest = F.slice(segs, 2, F.greatest(F.size(segs) - 1, F.lit(0)))
    loc_segs = F.filter(rest, lambda x: x.rlike(_LOC_FULL_RE))
    widow_segs = F.filter(rest, lambda x: x.rlike(_WIDOW_RE))
    occ_segs = F.filter(
        rest, lambda x: ~x.rlike(_LOC_FULL_RE) & ~x.rlike(_WIDOW_RE)
    )
    locations = F.transform(
        loc_segs,
        lambda x: F.struct(
            F.trim(F.regexp_replace(x, _LOC_MARKER_RE, "")).alias("value"),
            _loc_type(x).alias("loc_type"),
        ),
    )
    return F.struct(
        F.trim(F.try_element_at(segs, F.lit(1))).alias("subject"),
        occ_segs.alias("occupations"),
        F.try_element_at(
            F.transform(
                widow_segs, lambda x: F.trim(F.regexp_replace(x, _WIDOW_RE, ""))
            ),
            F.lit(1),
        ).alias("widow_of"),
        locations.alias("locations"),
    )


def parse_entries_real(lines: DataFrame, text_col: str = "text") -> DataFrame:
    """Apply the real-form parser to an hOCR line DataFrame (the output
    of sources.hocr.read_hocr_lines), flattening the struct."""
    e = parse_entry_struct(F.col(text_col))
    return lines.withColumn("entry", e).select(
        *lines.columns,
        F.col("entry.subject").alias("subject"),
        F.col("entry.occupations").alias("occupations"),
        F.col("entry.widow_of").alias("widow_of"),
        F.col("entry.locations").alias("locations"),
    )


def parse_entries_tagged(
    lines: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Parse entries with the TRAINED tagger (functions.entry_tagger)
    instead of the regex grammar — the reference's actual architecture:
    entry-parser.js pipes lines to a CRF trained on labeled data; here
    a linear-chain CRF (Lafferty et al. 2001; forward-backward MLE,
    exact Viterbi decode) trains driver-side on the labeled corpus, its
    weights broadcast into an Arrow-batched ``mapInPandas`` decode (one
    Python pass per batch, no per-row driver traffic).

    Same output contract as parse_entries_real; arrays serialize
    '|'-joined so downstream comparison is representation-free.
    """
    from collections.abc import Iterator

    import pandas as pd

    from etl_city_directories_spark.functions import entry_tagger

    spark = lines.sparkSession
    bc = spark.sparkContext.broadcast(entry_tagger.model())
    src = lines.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        _clean(F.col(text_col)).alias("clean_line"),
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = bc.value
        for pdf in batches:
            rows = []
            for doc_id, line in zip(pdf["doc_id"], pdf["clean_line"]):
                toks = str(line).split()
                e = entry_tagger.entry_from_tags(
                    toks, entry_tagger.tag(toks, weights)
                )
                rows.append(
                    (
                        doc_id,
                        e["subject"],
                        "|".join(e["occupations"]),
                        e["widow_of"] or "",  # '' not NULL: cross-engine hash
                        "|".join(
                            f"{l['value']}:{l['loc_type']}"
                            for l in e["locations"]
                        ),
                        len(e["locations"]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "subject", "occupations_all",
                    "widow_of", "locations_all", "n_locations",
                ],
            )

    return src.mapInPandas(
        _decode,
        "doc_id bigint, subject string, occupations_all string, "
        "widow_of string, locations_all string, n_locations bigint",
    )


def cd_parse_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-tagger twin of cd_parse_entries over the standing corpus
    (the CRF must reproduce the grammar exactly on the grammar-regular
    corpus — its training-data contract — so the grammar SQL is the
    oracle; accuracy and grammar-agreement are pinned in
    tests/test_entry_forms.py)."""
    return parse_entries_tagged(lines_df(spark, sf_dir), text_col="raw_line")


# ---------------------------------------------------------------------------
# shared line derivation — DuckDB side (CTE prefix reused by every oracle)
# ---------------------------------------------------------------------------

LINES_CTE = f"""
  lines AS (
    SELECT
      doc_id,
      source,
      CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS dir_id,
      CAST(doc_id % 120 + 1 AS INT) AS page_num,
      CAST(doc_id % 41 + 1849 AS INT) AS year_lo,
      CASE WHEN doc_id % 7 = 0
           THEN (doc_id % 41 + 1849) || '/' ||
                lpad(CAST((doc_id % 41 + 1850) % 100 AS VARCHAR), 2, '0')
           ELSE CAST(doc_id % 41 + 1849 AS VARCHAR)
      END AS year_raw,
      CAST((doc_id * 13) % 900 AS INT) AS bx0,
      CAST((doc_id * 29) % 1300 AS INT) AS by0,
      list_extract({_sql_list(NAMES)}, CAST(doc_id % 12 + 1 AS INT))
        || ',  ' ||
      list_extract({_sql_list(OCCS)}, CAST(doc_id % 8 + 1 AS INT))
        || CASE WHEN doc_id % 5 = 0 THEN '...' ELSE '' END
        || ', ' || CAST((doc_id * 7) % 300 + 1 AS VARCHAR) || ' ' ||
      list_extract({_sql_list(STREETS)}, CAST(doc_id % 10 + 1 AS INT))
        || CASE WHEN doc_id % 3 = 0
                THEN ', h ' || CAST((doc_id * 11) % 300 + 1 AS VARCHAR) || ' ' ||
                     list_extract({_sql_list(STREETS)}, CAST((doc_id * 3) % 10 + 1 AS INT))
                ELSE '' END
      AS raw_line
    FROM documents
  ),
  cleaned AS (
    SELECT *,
      trim(regexp_replace(regexp_replace(raw_line, '\\.+', '.', 'g'), '  +', ' ', 'g')) AS clean_line
    FROM lines
  ),
  parsed AS (
    SELECT *,
      string_split(clean_line, ', ') AS segs,
      list_transform(
        list_filter(string_split(clean_line, ', '), x -> regexp_matches(x, '{_LOC_RE}')),
        x -> regexp_replace(x, '^h ', '')
      ) AS locs,
      [x FOR x IN string_split(clean_line, ', ')[2:] IF NOT regexp_matches(x, '{_LOC_RE}')]
        AS occs
    FROM cleaned
  )
"""


# ---------------------------------------------------------------------------
# §2.A queries
# ---------------------------------------------------------------------------

def cd_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dot-run collapse + whitespace normalize (city-directories.js:245)."""
    return lines_df(spark, sf_dir).select(
        "doc_id", "raw_line", _clean(F.col("raw_line")).alias("clean_line")
    )


def cd_parse_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry-parser contract: text → subject / occupation / locations.

    First comma segment is the subject; segments that look like
    '<num> <street>' or 'h <num> <street>' are locations (home marker
    stripped); remaining non-first segments are occupations.
    """
    clean = _clean(F.col("raw_line"))
    segs = _segments(clean)
    locs = _locs(segs)
    occs = _occs(segs)
    return lines_df(spark, sf_dir).select(
        "doc_id",
        F.trim(F.try_element_at(segs, F.lit(1))).alias("subject"),
        F.try_element_at(occs, F.lit(1)).alias("occupation"),
        F.try_element_at(locs, F.lit(1)).alias("loc1"),
        F.try_element_at(locs, F.lit(2)).alias("loc2"),
        F.size(locs).cast("bigint").alias("n_locations"),
    )


def cd_parse_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry-parser's full multi-valued contract: subjects[],
    occupations[], locations[] surface whole — the reference keeps the
    complete ``locations`` array on the output object even though it
    projects ``subjects[0]``/``occupations[0]`` (city-directories.js:
    376-379). Arrays serialize '|'-joined so the cross-engine hash is
    representation-independent."""
    clean = _clean(F.col("raw_line"))
    segs = _segments(clean)
    locs = _locs(segs)
    occs = _occs(segs)
    return lines_df(spark, sf_dir).select(
        "doc_id",
        F.trim(F.try_element_at(segs, F.lit(1))).alias("subjects_all"),
        F.concat_ws("|", occs).alias("occupations_all"),
        F.concat_ws("|", locs).alias("locations_all"),
        F.size(occs).cast("bigint").alias("n_occupations"),
        F.size(locs).cast("bigint").alias("n_locations"),
    )


def cd_year_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'1850/51' → [1850, 1851]; plain years map to themselves
    (city-directories.js:123-128, :416-417)."""
    since, until = validity(F.col("year_raw"), F.col("year_lo"))
    return lines_df(spark, sf_dir).select(
        "doc_id", "year_raw", since.alias("valid_since"), until.alias("valid_until")
    )


def cd_make_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """makeId: '{year|y1-y2}.{pageNum}.{bbox joined by -}'
    (city-directories.js:261-270)."""
    return _person_base(spark, sf_dir).select("doc_id", "entry_id")


# ---------------------------------------------------------------------------
# transform builders — one copy each, for the cd_* keys and cli.step_transform
# ---------------------------------------------------------------------------

def validity(year_raw: Column, year_lo: Column) -> tuple[Column, Column]:
    """(validSince, validUntil) of a directory year form: '1850/51'
    spans [1850, 1851], a plain year maps to itself
    (city-directories.js:123-128, :416-417)."""
    until = F.when(year_raw.contains("/"), year_lo + 1).otherwise(year_lo)
    return year_lo, until.cast("int")


def make_id(
    year_raw: Column, year_lo: Column, page_num: Column, bbox: list[Column]
) -> Column:
    """makeId: '{year|y1-y2}.{pageNum}.{bbox joined by -}'
    (city-directories.js:261-270); null when any part is missing."""
    since, until = (c.cast("string") for c in validity(year_raw, year_lo))
    year_part = F.when(
        year_raw.contains("/"), F.concat(since, F.lit("-"), until)
    ).otherwise(since)
    return F.concat(
        year_part,
        F.lit("."),
        page_num.cast("string"),
        F.lit("."),
        F.concat_ws("-", *(c.cast("string") for c in bbox)),
    )


def geocode_summary() -> list[Column]:
    """Per-entry aggregates over its geocoded locations (columns
    ``loc_idx``, ``loc_value``, ``address_id``, ``geom_x``, ``geom_y``):
    location and house-level hit counts, and the hits' points in entry
    order for ``point_geometry``."""
    return [
        F.count("address_id").alias("n_geocoded"),
        F.count("loc_value").cast("bigint").alias("n_locations"),
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("address_id").isNotNull(),
                    F.struct("loc_idx", "geom_x", "geom_y"),
                )
            )
        ).alias("pts"),
    ]


def point_geometry(pts: Column) -> Column:
    """WKT of an entry's geocoded points (city-directories.js:325-336):
    POINT for one, MULTIPOINT for several, null for none."""

    def xy(p: Column) -> Column:
        return F.concat(
            p["geom_x"].cast("int").cast("string"),
            F.lit(" "),
            p["geom_y"].cast("int").cast("string"),
        )

    return F.when(
        F.size(pts) == 1, F.concat(F.lit("POINT("), xy(pts[0]), F.lit(")"))
    ).when(
        F.size(pts) > 1,
        F.concat(F.lit("MULTIPOINT("), F.concat_ws(",", F.transform(pts, xy)), F.lit(")")),
    )


def directories_dim(spark: SparkSession) -> DataFrame:
    """Tiny manifest dim (one row per directory volume) — broadcast side."""
    return spark.range(0, 20).select(
        F.col("id").cast("int").alias("dir_id"),
        (F.col("id") % 10 + 5).cast("int").alias("start_page"),
        (110 - F.col("id") % 13).cast("int").alias("end_page"),
        (F.col("id") % 3 + 1).cast("int").alias("column_count"),
    )


def cd_page_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory/page windowing: minYear/maxYear on the volume,
    [startPage, endPage] on the page (city-directories.js:191-200)."""
    lines = lines_df(spark, sf_dir)
    dirs = directories_dim(spark)
    return (
        lines.join(F.broadcast(dirs), "dir_id")
        .filter(
            (F.col("year_lo") >= MIN_YEAR)
            & (F.col("year_lo") <= MAX_YEAR)
            & (F.col("page_num") >= F.col("start_page"))
            & (F.col("page_num") <= F.col("end_page"))
        )
        .select("doc_id", "dir_id", "page_num", "year_lo", "start_page", "end_page")
    )


def addresses_dim(spark: SparkSession) -> DataFrame:
    """Historical address dim: every street × house number 1..300,
    minus numbers divisible by GEOCODE_MISS_MOD (geocoder misses).
    r10: plan_memo'd (pure generated dim — no data dependency)."""
    return plan_memo(spark, ("cd_addresses_plan",), lambda: _addresses_build(spark))


def _addresses_build(spark: SparkSession) -> DataFrame:
    streets = local_frame(
        spark,
        [(i + 1, s) for i, s in enumerate(STREETS)],
        "street_idx long, street_name string",
    )
    return (
        streets.select(
            "street_idx",
            "street_name",
            F.explode(F.sequence(F.lit(1), F.lit(300))).alias("house_num"),
        )
        .filter(F.col("house_num") % GEOCODE_MISS_MOD != 0)
        .select(
            (F.col("street_idx") * 1000 + F.col("house_num"))
            .cast("bigint")
            .alias("address_id"),
            F.concat_ws(
                " ", F.col("house_num").cast("string"), F.col("street_name")
            ).alias("address_name"),
            F.col("street_name"),
            F.concat(F.lit("S"), F.col("street_idx").cast("string")).alias("street_id"),
            F.col("street_idx").cast("double").alias("geom_x"),
            F.col("house_num").cast("double").alias("geom_y"),
        )
    )


# ---------------------------------------------------------------------------
# OCR address normalization (geocoder fidelity)
# ---------------------------------------------------------------------------
# The reference's geocoder (city-directories.js:272-323, backed by
# @spacetime/nyc-historical-geocoder) normalizes and fuzzy-matches messy
# OCR address strings BEFORE the dataset lookup — abbreviated street
# types ("23 Pearl st."), contractions ("B'way"), corner forms
# ("Pearl c Cherry", "n e cor Greenwich & Canal"), half numbers
# ("23½"). This table is that normalization as a deterministic regex
# chain. Patterns are restricted to the RE2 ∩ Java dialect (no
# lookaround) so the DuckDB oracle replays them verbatim; replacements
# differ only in backreference syntax ($1 vs \1).
_ADDR_SUBS: tuple[tuple[str, str, str], ...] = (
    # leading location markers the parser may leave behind
    (r"(?i)^(h|r|bds|b)\.? +", "", ""),
    # 'No. 23 Pearl' → '23 Pearl'
    (r"(?i)^no\.? +([0-9])", "$1", r"\1"),
    # OCR contractions of long street names
    (r"(?i)\bb'?way\b", "Broadway", "Broadway"),
    (r"(?i)\bgr'?wich\b", "Greenwich", "Greenwich"),
    # half house numbers: '23½' / '23 1/2' → '23'
    (r"([0-9]+) ?½", "$1", r"\1"),
    (r"([0-9]+) 1/2( |$)", r"$1$2", r"\1\2"),
    # corner forms → canonical 'A & B' (optionally compass-prefixed)
    (r"(?i)^([nsew]\.? +)+cor(ner)?\.? +", "", ""),
    (r"(?i)^cor(ner)?\.? +", "", ""),
    (r"(?i) +c(or(ner)?)?\.? +", " & ", " & "),
    (r"(?i) +and +", " & ", " & "),
    # street-type suffix (the historical dim's names carry none)
    (r"(?i) (st|str|street|av|ave|avenue|pl|place|rd|road)\.?$", "", ""),
    # trailing punctuation + whitespace runs
    (r"[.,]+$", "", ""),
    (r" {2,}", " ", " "),
)


def normalize_address(col: Column) -> Column:
    """Messy-OCR address string → canonical '<num> <Street>' (or
    'A & B' for corner forms) matching the address dim's naming."""
    c = F.trim(col)
    for pat, rep, _ in _ADDR_SUBS:
        c = F.regexp_replace(c, pat, rep)
    return F.trim(c)


def _norm_addr_sql(expr: str) -> str:
    """The identical normalization chain as a DuckDB expression."""
    s = f"trim({expr})"
    for pat, _, rep in _ADDR_SUBS:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''")
        s = f"regexp_replace({s}, '{p}', '{r}', 'g')"
    return f"trim({s})"


# Era first-name abbreviations as 1850s directories print them — the
# canonical-name expansion behind cd_link_persons' secondary block.
# Word-boundary regexes, RE2 ∩ Java dialect (oracle-replayable).
_NAME_ABBREVS: tuple[tuple[str, str], ...] = (
    ("Wm", "William"),
    ("Chas", "Charles"),
    ("Thos", "Thomas"),
    ("Geo", "George"),
    ("Jas", "James"),
    ("Jno", "John"),
    ("Robt", "Robert"),
    ("Saml", "Samuel"),
    ("Edw", "Edward"),
    ("Benj", "Benjamin"),
    ("Danl", "Daniel"),
    ("Fredk", "Frederick"),
)


def _canon_subject(col: Column) -> Column:
    """'Brown Wm. H' → 'Brown William H': strip periods, expand era
    first-name abbreviations, collapse whitespace."""
    c = F.regexp_replace(col, r"\.", "")
    for ab, full in _NAME_ABBREVS:
        c = F.regexp_replace(c, rf"\b{ab}\b", full)
    return F.trim(F.regexp_replace(c, " {2,}", " "))


def _canon_subject_sql(expr: str) -> str:
    s = f"regexp_replace({expr}, '\\.', '', 'g')"
    for ab, full in _NAME_ABBREVS:
        s = f"regexp_replace({s}, '\\b{ab}\\b', '{full}', 'g')"
    return f"trim(regexp_replace({s}, ' {{2,}}', ' ', 'g'))"


def streets_dim(spark: SparkSession) -> DataFrame:
    """Street-level rows of the address dim — the corner/street-only
    fallback target (a corner form geocodes to the street, not to a
    house-level address). Every street has houses in the address dim,
    so these are its distinct (street_name, street_id) pairs."""
    return plan_memo(
        spark,
        ("cd_streets_plan",),
        lambda: local_frame(
            spark,
            [(s, f"S{i + 1}") for i, s in enumerate(STREETS)],
            "street_name string, street_id string",
        ),
    )


def geocode_locations(
    spark: SparkSession,
    locs: DataFrame,
    dim: DataFrame | None = None,
) -> DataFrame:
    """Normalize + two-stage geocode of any (…, loc_value) DataFrame:
    exact house-level broadcast join on the normalized form, then a
    street-level fallback for number-less (corner) forms. Both dims
    broadcast; the corpus side stays map-side.

    ``dim`` replaces the built-in demo dims with a real address
    dataset (the CLI's ``addresses`` config key), with the column
    contract of ``addresses_dim``; its streets are its distinct
    (street_name, street_id) pairs.

    Output: ``locs``' columns, then ``loc_norm``, ``found`` (house or
    street hit), ``address_id`` (house hits only), ``street_name``,
    ``street_id``, and ``geom_x`` / ``geom_y`` of the matched house row
    (null for a street-level or no hit). The reference's geocode result
    carries its geometry the same way, so transform needs no second
    look at the address dataset.
    """
    if dim is None:
        dim, streets = addresses_dim(spark), streets_dim(spark)
    else:
        streets = dim.select("street_name", "street_id").distinct()
    sts = streets.select(
        F.col("street_name").alias("c_street_name"),
        F.col("street_id").alias("c_street_id"),
    )
    normed = locs.withColumn(
        "loc_norm", normalize_address(F.col("loc_value"))
    ).withColumn(
        "corner_street",
        F.when(
            ~F.col("loc_norm").rlike("^[0-9]"),
            F.trim(F.element_at(F.split(F.col("loc_norm"), " & "), 1)),
        ),
    )
    j = normed.join(
        F.broadcast(dim),
        F.lower(normed.loc_norm) == F.lower(dim.address_name),
        "left",
    ).join(
        F.broadcast(sts),
        F.lower(F.col("corner_street")) == F.lower(F.col("c_street_name")),
        "left",
    )
    return j.select(
        *locs.columns,
        "loc_norm",
        (
            F.col("address_id").isNotNull() | F.col("c_street_id").isNotNull()
        ).alias("found"),
        "address_id",
        F.coalesce("street_name", "c_street_name").alias("street_name"),
        F.coalesce("street_id", "c_street_id").alias("street_id"),
        "geom_x",
        "geom_y",
    )


def _exploded_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    clean = _clean(F.col("raw_line"))
    locs = _locs(_segments(clean))
    return lines_df(spark, sf_dir).select(
        "doc_id",
        "year_raw",
        "year_lo",
        "page_num",
        "bx0",
        "by0",
        F.posexplode(locs).alias("loc_idx", "loc_value"),
    )


def cd_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-location geocode: OCR normalization (``_ADDR_SUBS``) ahead
    of a broadcast join against the address dim → found / address /
    street (house level), with a street-level fallback for number-less
    corner forms — the lookup shape of the reference's geocoder
    (:272-323; @spacetime/nyc-historical-geocoder normalizes before
    matching). The DuckDB oracle replays the identical chain.

    At 100 TB the corpus side streams; the dim (all NYC historical
    addresses ≈ millions of rows) broadcasts or, if too large, becomes
    a shuffle-free bucketed join on the normalized name.
    """
    locs = _exploded_locations(spark, sf_dir)
    return geocode_locations(spark, locs).select(
        "doc_id",
        F.col("loc_idx").cast("bigint").alias("loc_idx"),
        "loc_value",
        "found",
        "address_id",
        "street_name",
        "street_id",
    )


def _person_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed + geocoded person rows (shared by transform/relations).
    r10: plan_memo'd lazy plan (see lines_df)."""
    return plan_memo(
        spark,
        ("cd_person_base_plan", sf_dir, table_stamp(sf_dir, ("documents",))),
        lambda: _person_base_build(spark, sf_dir),
    )


def _person_base_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    clean = _clean(F.col("raw_line"))
    segs = _segments(clean)
    locs = _locs(segs)
    occs = _occs(segs)
    lines = lines_df(spark, sf_dir).select(
        "doc_id",
        "source",
        "year_raw",
        "year_lo",
        "page_num",
        "bx0",
        "by0",
        clean.alias("text"),
        F.trim(F.try_element_at(segs, F.lit(1))).alias("name"),
        F.try_element_at(occs, F.lit(1)).alias("occupation"),
        locs.alias("locs"),
    )
    return lines.withColumn(
        "entry_id",
        make_id(
            F.col("year_raw"),
            F.col("year_lo"),
            F.col("page_num"),
            [F.col("bx0"), F.col("by0"), F.col("bx0") + 250, F.col("by0") + 18],
        ),
    )


def _house_geocoded(spark: SparkSession, base: DataFrame) -> DataFrame:
    """Every location of a person row (``posexplode_outer``: a row with
    none keeps one null location), left-joined to the address dim on its
    normalized form: cd_geocode's house-level lookup without the street
    fallback. The one dim join behind cd_transform_objects, cd_relations
    and cd_logs."""
    exploded = base.select(
        "doc_id", "entry_id", F.posexplode_outer("locs").alias("loc_idx", "loc_value")
    )
    dim = addresses_dim(spark)
    return exploded.join(
        F.broadcast(dim),
        F.lower(normalize_address(exploded.loc_value)) == F.lower(dim.address_name),
        "left",
    )


def cd_transform_objects(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """st:Person assembly (city-directories.js:409-430): id, name,
    validity interval, provenance uuids, geometry Point/MultiPoint."""
    if base is None:
        base = _person_base(spark, sf_dir)
    geo = (
        _house_geocoded(spark, base)
        .groupBy("doc_id")
        .agg(*geocode_summary())
        .select(
            "doc_id",
            "n_locations",
            "n_geocoded",
            point_geometry(F.col("pts")).alias("geometry"),
        )
    )
    since, until = validity(F.col("year_raw"), F.col("year_lo"))
    return (
        base.join(geo, "doc_id")
        .select(
            F.col("entry_id"),
            F.lit("st:Person").alias("type"),
            "name",
            since.alias("valid_since"),
            until.alias("valid_until"),
            F.md5(F.col("source")).alias("volume_uuid"),
            F.md5(F.col("doc_id").cast("string")).alias("page_uuid"),
            "page_num",
            "text",
            "occupation",
            "n_locations",
            "n_geocoded",
            "geometry",
        )
    )


# The dataset JSON-Schema contract (city-directories.dataset.json):
# required fields, 4-int bbox, geocoded-iff-geometry. Each rule is a
# violation predicate over the st:Person output.
_SCHEMA_RULES: tuple[tuple[str, str], ...] = (
    # (rule name, DuckDB/Spark-SQL violation predicate over the
    # transform output — identical dialect subset)
    ("required_non_null",
     "volume_uuid IS NULL OR page_uuid IS NULL OR page_num IS NULL "
     "OR text IS NULL"),
    ("id_makeable", "entry_id IS NULL"),
    ("validity_interval", "valid_until < valid_since"),
    ("geometry_iff_geocoded",
     "(n_geocoded = 0) != (geometry IS NULL)"),
    ("geocoded_within_locations", "n_geocoded > n_locations"),
    ("type_constant", "type != 'st:Person'"),
)


def cd_validate_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-contract validation: the reference ecosystem validates
    every emitted object against city-directories.dataset.json (the
    repo's only formal output spec — SURVEY §5); this operator is that
    check as a first-class audit, one row per schema rule with its
    violation count. Single pass over the transform output: all rule
    sums ride one aggregation, then unpivot — no per-rule rescan."""
    t = cd_transform_objects(spark, sf_dir)
    aggs = [
        F.sum(F.when(F.expr(pred), 1).otherwise(0))
        .cast("bigint")
        .alias(name)
        for name, pred in _SCHEMA_RULES
    ]
    wide = t.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"), *aggs)
    stack = ", ".join(f"'{name}', {name}" for name, _ in _SCHEMA_RULES)
    return (
        wide.select(
            "n_rows",
            F.expr(
                f"stack({len(_SCHEMA_RULES)}, {stack}) "
                "AS (rule, n_violations)"
            ),
        )
        .select("rule", "n_violations", "n_rows")
        .orderBy("rule")
    )


def cd_relations(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """st:in person→address relations, one per found geocode (:395-399)."""
    if base is None:
        base = _person_base(spark, sf_dir)
    return (
        _house_geocoded(spark, base)
        .filter(F.col("address_id").isNotNull())
        .select(
            F.col("entry_id").alias("rel_from"),
            F.col("address_id").alias("rel_to"),
            F.lit("st:in").alias("rel_type"),
        )
    )


def cd_link_persons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-year person linkage — the Space/Time directory's
    downstream goal for these entries: the SAME person tracked across
    directory volumes (the reference emits st:Person objects per
    volume precisely so a linkage step can join them; see the dataset
    contract in city-directories.dataset.json and validSince/validUntil
    at city-directories.js:416-417).

    Record-linkage shape, 100 TB-safe: BLOCK on (surname, first-name
    initial) of the CANONICALIZED subject — period-stripped, era
    first-name abbreviations expanded (``Wm.``→``William``, the forms
    1850s directories actually print) — so "Brown Wm. H" in one volume
    and "Brown William H" in the next land in the same block. Pair
    only entries in ADJACENT directory years inside a block, score
    each candidate (canonical-name agreement dominates, address /
    occupation agreement refine), keep score ≥ 2, and flag the best
    candidate per left entry with one window pass. No all-pairs join
    anywhere: cost is O(block collisions), the same candidate-then-
    verify contract as the LSH dedup family.
    """
    clean = _clean(F.col("raw_line"))
    segs = _segments(clean)
    locs = _locs(segs)
    occs = _occs(segs)
    entries = lines_df(spark, sf_dir).select(
        "doc_id",
        "year_lo",
        F.trim(F.try_element_at(segs, F.lit(1))).alias("subject"),
        F.try_element_at(occs, F.lit(1)).alias("occupation"),
        F.try_element_at(locs, F.lit(1)).alias("loc1"),
    )
    return link_person_entries(entries)


def link_person_entries(entries: DataFrame) -> DataFrame:
    """The blocking + scoring + tie-break core of cd_link_persons over
    any (doc_id, year_lo, subject, occupation, loc1) DataFrame.

    Scale shape: a pair reaches the score >= 2 threshold only when
    the canonical subjects agree (2 pts) OR address AND occupation
    both agree (1 + 1), so the OR-predicate decomposes into exact
    equi-joins — one on the full canonical name, one on
    (surname-initial block, loc1, occupation). Each entry explodes
    into up to two typed candidate keys and ONE self-join on the key
    covers both branches, so the parse scan runs once per side.
    Neither key is the old fixed-cardinality (surname, initial)
    block: both scale with corpus CONTENT, and every generated
    candidate is an emitted match, so candidate generation is
    output-bound — the hot "smith j" block never materializes as a
    quadratic join.

    Output-bound is still quadratic when the corpus itself stacks
    hundreds of identical names into one (name, year) cell, so each
    key cell is capped at LINK_MAX_BLOCK rows per year — the standard
    production-linkage guard (a cell that dense cannot be scored into
    reliable 1:1 links anyway); the cap is deterministic
    (drop-hot-cells-whole) and the oracle replays it via identical
    windowed counts. At the driver's gate scales the largest cell is
    11 rows, so the cap provably changes nothing there.
    """
    from pyspark.sql import Window

    entries = entries.withColumn(
        "canon_subject", _canon_subject(F.col("subject"))
    ).withColumn(
        "block_key",
        F.concat_ws(
            " ",
            F.element_at(F.split(F.col("canon_subject"), " "), 1),
            F.substring(
                F.element_at(F.split(F.col("canon_subject"), " "), 2), 1, 1
            ),
        ),
    )
    # Typed candidate keys as a struct (null-safe, no separator
    # collisions): N = full canonical name; A = (block, loc1,
    # occupation), emitted only when loc1 AND occupation are non-null
    # (SQL equality with NULL is never a match, so null-component
    # A-keys cannot contribute a pair).
    keyed = entries.select(
        "doc_id",
        "year_lo",
        "subject",
        "occupation",
        "loc1",
        "canon_subject",
        F.explode(
            F.filter(
                F.array(
                    F.when(
                        F.col("canon_subject").isNotNull(),
                        F.struct(
                            F.lit("N").alias("kt"),
                            F.col("canon_subject").alias("k1"),
                            F.lit("").alias("k2"),
                            F.lit("").alias("k3"),
                        ),
                    ),
                    F.when(
                        F.col("loc1").isNotNull()
                        & F.col("occupation").isNotNull(),
                        F.struct(
                            F.lit("A").alias("kt"),
                            F.col("block_key").alias("k1"),
                            F.col("loc1").alias("k2"),
                            F.col("occupation").alias("k3"),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("ck"),
    )
    cellw = Window.partitionBy("ck", "year_lo")
    keyed = (
        keyed.withColumn("cell_n", F.count(F.lit(1)).over(cellw))
        .filter(F.col("cell_n") <= LINK_MAX_BLOCK)
        .drop("cell_n")
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ck") == F.col("b.ck"))
            & (F.col("b.year_lo") == F.col("a.year_lo") + 1),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.subject").alias("subject"),
            F.col("a.year_lo").alias("year_a"),
            F.col("b.year_lo").alias("year_b"),
            (F.col("a.loc1") == F.col("b.loc1")).alias("same_address"),
            (F.col("a.occupation") == F.col("b.occupation")).alias(
                "same_occupation"
            ),
            (
                F.when(
                    F.col("a.canon_subject") == F.col("b.canon_subject"), 2
                ).otherwise(0)
                + F.when(F.col("a.loc1") == F.col("b.loc1"), 1).otherwise(0)
                + F.when(
                    F.col("a.occupation") == F.col("b.occupation"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("match_score"),
        )
        # a pair matched by both its N-key and its A-key yields two
        # byte-identical rows — NULL-safe full-row distinct is an
        # exact pair-level dedup; the score filter is then a
        # documented invariant, not a pruner.
        .distinct()
        .filter(F.col("match_score") >= 2)
    )
    w = Window.partitionBy("doc_a").orderBy(
        F.col("match_score").desc(), F.col("doc_b").asc()
    )
    return pairs.withColumn(
        "best_link", F.row_number().over(w) == 1
    ).orderBy("doc_a", "doc_b")


def cd_logs(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """The reference's failure audit trail as first-class output rows.

    city-directories.js emits ``{type: 'log'}`` objects for every
    geocode miss (:400-404, :431-437) and for entries whose id cannot
    be built (:355-364). Replaying the ETL without these loses the
    audit trail. Two arms, unioned:

    - ``geocode``: one row per location that found no address
      (house numbers divisible by GEOCODE_MISS_MOD, the deterministic
      miss model), carrying the line id + failing location.
    - ``id``: rows whose makeId produced NULL — structurally possible
      (missing year/page/bbox in real OCR), empty on this synthetic
      corpus, but the arm is exercised end-to-end in both engines.

    Same broadcast-join shape as cd_geocode; map-side otherwise.
    """
    if base is None:
        base = _person_base(spark, sf_dir)
    misses = (
        _house_geocoded(spark, base)
        .filter(F.col("loc_value").isNotNull() & F.col("address_id").isNull())
        .select(
            F.lit("log").alias("type"),
            F.lit("geocode").alias("log_kind"),
            "doc_id",
            "entry_id",
            F.col("loc_idx").cast("bigint").alias("loc_idx"),
            "loc_value",
            F.concat(F.lit("Address not found: "), F.col("loc_value")).alias("error"),
        )
    )
    id_errors = base.filter(F.col("entry_id").isNull()).select(
        F.lit("log").alias("type"),
        F.lit("id").alias("log_kind"),
        "doc_id",
        F.col("entry_id"),
        F.lit(None).cast("bigint").alias("loc_idx"),
        F.lit(None).cast("string").alias("loc_value"),
        F.lit("Could not make ID").alias("error"),
    )
    return misses.unionByName(id_errors)


def cd_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE reference pipeline in one call: the transform
    step's single NDJSON output stream (city-directories.js:443-450
    writes objects, logs, and relations into one file) re-expressed
    as a union of the three typed row sets over a shared lineage —
    parse → filter → geocode → transform, end to end.

    Rows align on (row_type, row_id, ref, detail): st:Person objects
    (id, name, geometry), st:in relations (from, to, type), and log
    rows (line id, failing location, error). The parsed+geocoded base
    is computed ONCE and persisted across the three arms (the staged
    materialization the reference gets from its step files), and the
    broadcast address dim is shared.
    """
    base = rolling_persist(
        spark, ("cd_person_base", sf_dir), _person_base(spark, sf_dir)
    )
    obj = cd_transform_objects(spark, sf_dir, base=base).select(
        F.lit("object").alias("row_type"),
        F.col("entry_id").cast("string").alias("row_id"),
        F.col("name").cast("string").alias("ref"),
        F.col("geometry").cast("string").alias("detail"),
    )
    rel = cd_relations(spark, sf_dir, base=base).select(
        F.lit("relation").alias("row_type"),
        F.col("rel_from").cast("string").alias("row_id"),
        F.col("rel_to").cast("string").alias("ref"),
        F.col("rel_type").cast("string").alias("detail"),
    )
    logs = cd_logs(spark, sf_dir, base=base).select(
        F.lit("log").alias("row_type"),
        F.col("entry_id").cast("string").alias("row_id"),
        F.col("loc_value").cast("string").alias("ref"),
        F.col("error").cast("string").alias("detail"),
    )
    return obj.unionByName(rel).unionByName(logs)


QUERIES = {
    "cd_pipeline": cd_pipeline,
    "cd_clean_text": cd_clean_text,
    "cd_parse_entries": cd_parse_entries,
    "cd_parse_multi": cd_parse_multi,
    "cd_year_normalize": cd_year_normalize,
    "cd_make_id": cd_make_id,
    "cd_page_filter": cd_page_filter,
    "cd_geocode": cd_geocode,
    "cd_transform_objects": cd_transform_objects,
    "cd_relations": cd_relations,
    "cd_logs": cd_logs,
    "cd_parse_tagged": cd_parse_tagged,
    "cd_link_persons": cd_link_persons,
    "cd_validate_schema": cd_validate_schema,
}

_ADDR_CTE = f"""
  addresses AS (
    SELECT
      (street_idx * 1000 + house_num)::BIGINT AS address_id,
      house_num || ' ' || street_name AS address_name,
      street_name,
      'S' || street_idx AS street_id,
      street_idx::DOUBLE AS geom_x,
      house_num::DOUBLE AS geom_y
    FROM (
      SELECT * FROM (VALUES {", ".join(f"({i + 1}, '{s}')" for i, s in enumerate(STREETS))})
        AS t(street_idx, street_name)
    ) streets
    CROSS JOIN (SELECT unnest(generate_series(1, 300)) AS house_num)
    WHERE house_num % {GEOCODE_MISS_MOD} != 0
  )
"""

_YEAR_PART = """CASE WHEN year_raw LIKE '%/%'
       THEN year_lo || '-' || (year_lo + 1)
       ELSE CAST(year_lo AS VARCHAR) END"""
_BBOX = "bx0 || '-' || by0 || '-' || (bx0 + 250) || '-' || (by0 + 18)"

ORACLES = {
    "cd_clean_text": f"""
        WITH {LINES_CTE}
        SELECT doc_id, raw_line, clean_line FROM cleaned
    """,
    "cd_parse_entries": f"""
        WITH {LINES_CTE}
        SELECT
          doc_id,
          trim(segs[1]) AS subject,
          occs[1] AS occupation,
          locs[1] AS loc1,
          locs[2] AS loc2,
          len(locs)::BIGINT AS n_locations
        FROM parsed
    """,
    "cd_parse_multi": f"""
        WITH {LINES_CTE}
        SELECT
          doc_id,
          trim(segs[1]) AS subjects_all,
          array_to_string(occs, '|') AS occupations_all,
          array_to_string(locs, '|') AS locations_all,
          len(occs)::BIGINT AS n_occupations,
          len(locs)::BIGINT AS n_locations
        FROM parsed
    """,
    "cd_link_persons": f"""
        WITH {LINES_CTE},
        keyed AS (
          SELECT
            doc_id, year_lo,
            trim(segs[1]) AS subject,
            occs[1] AS occupation,
            locs[1] AS loc1,
            {_canon_subject_sql('trim(segs[1])')} AS canon_subject,
            concat_ws(' ',
              string_split({_canon_subject_sql('trim(segs[1])')}, ' ')[1],
              substring(
                string_split({_canon_subject_sql('trim(segs[1])')}, ' ')[2],
                1, 1)) AS block_key
          FROM parsed
        ),
        -- replay the LINK_MAX_BLOCK cell cap: per-(key, year) row
        -- counts for both candidate keys; a pair is eligible through
        -- a key only when BOTH endpoints' cells pass the cap
        sized AS (
          SELECT *,
            COUNT(*) OVER (PARTITION BY canon_subject, year_lo)
              AS n_name,
            COUNT(*) OVER (
              PARTITION BY block_key, loc1, occupation, year_lo
            ) AS n_addr
          FROM keyed
        ),
        pairs AS (
          SELECT
            a.doc_id AS doc_a,
            b.doc_id AS doc_b,
            a.subject AS subject,
            a.year_lo AS year_a,
            b.year_lo AS year_b,
            (a.loc1 = b.loc1) AS same_address,
            (a.occupation = b.occupation) AS same_occupation,
            (CASE WHEN a.canon_subject = b.canon_subject THEN 2 ELSE 0 END
             + CASE WHEN a.loc1 = b.loc1 THEN 1 ELSE 0 END
             + CASE WHEN a.occupation = b.occupation THEN 1 ELSE 0 END
            )::BIGINT AS match_score
          FROM sized a JOIN sized b
            ON b.year_lo = a.year_lo + 1
           AND ((a.canon_subject = b.canon_subject
                 AND a.n_name <= {LINK_MAX_BLOCK}
                 AND b.n_name <= {LINK_MAX_BLOCK})
             OR (a.block_key = b.block_key
                 AND a.loc1 = b.loc1 AND a.occupation = b.occupation
                 AND a.n_addr <= {LINK_MAX_BLOCK}
                 AND b.n_addr <= {LINK_MAX_BLOCK}))
        )
        SELECT *,
          (row_number() OVER (
             PARTITION BY doc_a ORDER BY match_score DESC, doc_b) = 1
          ) AS best_link
        FROM pairs
        WHERE match_score >= 2
        ORDER BY doc_a, doc_b
    """,
    # the trained tagger must reproduce the grammar exactly on the
    # grammar-regular standing corpus (its training data contract) —
    # so the grammar IS the oracle; loc_type: 'h '-prefixed segments
    # are homes, bare-number segments are (work) addresses
    "cd_parse_tagged": f"""
        WITH {LINES_CTE}
        SELECT
          doc_id,
          trim(segs[1]) AS subject,
          array_to_string(occs, '|') AS occupations_all,
          '' AS widow_of,
          array_to_string(
            list_transform(
              list_filter(segs, x -> regexp_matches(x, '{_LOC_RE}')),
              x -> CASE WHEN x LIKE 'h %'
                   THEN substring(x, 3) || ':home'
                   ELSE x || ':address' END
            ), '|') AS locations_all,
          len(locs)::BIGINT AS n_locations
        FROM parsed
    """,
    "cd_year_normalize": f"""
        WITH {LINES_CTE}
        SELECT
          doc_id,
          year_raw,
          year_lo AS valid_since,
          CASE WHEN year_raw LIKE '%/%' THEN year_lo + 1 ELSE year_lo END::INT AS valid_until
        FROM lines
    """,
    "cd_make_id": f"""
        WITH {LINES_CTE}
        SELECT
          doc_id,
          {_YEAR_PART} || '.' || page_num || '.' || {_BBOX} AS entry_id
        FROM lines
    """,
    "cd_page_filter": f"""
        WITH {LINES_CTE},
        dirs AS (
          SELECT
            i::INT AS dir_id,
            (i % 10 + 5)::INT AS start_page,
            (110 - i % 13)::INT AS end_page
          FROM (SELECT unnest(generate_series(0, 19)) AS i)
        )
        SELECT doc_id, dir_id, page_num, year_lo, start_page, end_page
        FROM lines JOIN dirs USING (dir_id)
        WHERE year_lo >= {MIN_YEAR} AND year_lo <= {MAX_YEAR}
          AND page_num >= start_page AND page_num <= end_page
    """,
    "cd_geocode": f"""
        WITH {LINES_CTE},
        {_ADDR_CTE},
        streets AS (
          SELECT DISTINCT street_name AS c_street_name,
                          street_id AS c_street_id
          FROM addresses
        ),
        exploded AS (
          SELECT doc_id, unnest(locs) AS loc_value,
                 generate_subscripts(locs, 1) - 1 AS loc_idx
          FROM parsed
        ),
        cornered AS (
          SELECT *,
            {_norm_addr_sql('loc_value')} AS loc_norm,
            CASE WHEN NOT regexp_matches(
                   {_norm_addr_sql('loc_value')}, '^[0-9]')
                 THEN trim(string_split(
                        {_norm_addr_sql('loc_value')}, ' & ')[1])
            END AS corner_street
          FROM exploded
        )
        SELECT
          doc_id,
          loc_idx::BIGINT AS loc_idx,
          loc_value,
          (a.address_id IS NOT NULL OR s.c_street_id IS NOT NULL) AS found,
          a.address_id,
          COALESCE(a.street_name, s.c_street_name) AS street_name,
          COALESCE(a.street_id, s.c_street_id) AS street_id
        FROM cornered c
        LEFT JOIN addresses a ON lower(c.loc_norm) = lower(a.address_name)
        LEFT JOIN streets s
          ON lower(c.corner_street) = lower(s.c_street_name)
    """,
    "cd_transform_objects": rf"""
        WITH {LINES_CTE},
        {_ADDR_CTE},
        exploded AS (
          SELECT doc_id, unnest(locs) AS loc_value,
                 generate_subscripts(locs, 1) - 1 AS loc_idx
          FROM parsed
        ),
        geo AS (
          SELECT
            p.doc_id,
            count(e.loc_value)::BIGINT AS n_locations,
            count(a.address_id) AS n_geocoded,
            list_sort(list([e.loc_idx::INT, a.geom_x::INT, a.geom_y::INT])
                      FILTER (a.address_id IS NOT NULL)) AS pts
          FROM parsed p
          LEFT JOIN exploded e ON p.doc_id = e.doc_id
          LEFT JOIN addresses a
            ON lower(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(trim(e.loc_value), '(?i)^(h|r|bds|b)\.? +', '', 'g'), '(?i)^no\.? +([0-9])', '\1', 'g'), '(?i)\bb''?way\b', 'Broadway', 'g'), '(?i)\bgr''?wich\b', 'Greenwich', 'g'), '([0-9]+) ?½', '\1', 'g'), '([0-9]+) 1/2( |$)', '\1\2', 'g'), '(?i)^([nsew]\.? +)+cor(ner)?\.? +', '', 'g'), '(?i)^cor(ner)?\.? +', '', 'g'), '(?i) +c(or(ner)?)?\.? +', ' & ', 'g'), '(?i) +and +', ' & ', 'g'), '(?i) (st|str|street|av|ave|avenue|pl|place|rd|road)\.?$', '', 'g'), '[.,]+$', '', 'g'), ' {2,}', ' ', 'g'))) = lower(a.address_name)
          GROUP BY p.doc_id
        )
        SELECT
          {_YEAR_PART} || '.' || page_num || '.' || {_BBOX} AS entry_id,
          'st:Person' AS type,
          trim(segs[1]) AS name,
          year_lo AS valid_since,
          CASE WHEN year_raw LIKE '%/%' THEN year_lo + 1 ELSE year_lo END::INT AS valid_until,
          md5(source) AS volume_uuid,
          md5(CAST(p.doc_id AS VARCHAR)) AS page_uuid,
          page_num,
          clean_line AS text,
          occs[1] AS occupation,
          g.n_locations,
          g.n_geocoded,
          CASE
            WHEN g.n_geocoded = 0 THEN NULL
            WHEN g.n_geocoded = 1 THEN
              'POINT(' || pts[1][2] || ' ' || pts[1][3] || ')'
            ELSE
              'MULTIPOINT(' ||
              array_to_string(list_transform(pts, x -> x[2] || ' ' || x[3]), ',') || ')'
          END AS geometry
        FROM parsed p JOIN geo g ON p.doc_id = g.doc_id
    """,
    "cd_relations": rf"""
        WITH {LINES_CTE},
        {_ADDR_CTE},
        exploded AS (
          SELECT doc_id, year_raw, year_lo, page_num, bx0, by0,
                 unnest(locs) AS loc_value
          FROM parsed
        )
        SELECT
          {_YEAR_PART} || '.' || page_num || '.' || {_BBOX} AS rel_from,
          address_id AS rel_to,
          'st:in' AS rel_type
        FROM exploded JOIN addresses
          ON lower(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(trim(loc_value), '(?i)^(h|r|bds|b)\.? +', '', 'g'), '(?i)^no\.? +([0-9])', '\1', 'g'), '(?i)\bb''?way\b', 'Broadway', 'g'), '(?i)\bgr''?wich\b', 'Greenwich', 'g'), '([0-9]+) ?½', '\1', 'g'), '([0-9]+) 1/2( |$)', '\1\2', 'g'), '(?i)^([nsew]\.? +)+cor(ner)?\.? +', '', 'g'), '(?i)^cor(ner)?\.? +', '', 'g'), '(?i) +c(or(ner)?)?\.? +', ' & ', 'g'), '(?i) +and +', ' & ', 'g'), '(?i) (st|str|street|av|ave|avenue|pl|place|rd|road)\.?$', '', 'g'), '[.,]+$', '', 'g'), ' {2,}', ' ', 'g'))) = lower(address_name)
    """,
    "cd_logs": rf"""
        WITH {LINES_CTE},
        {_ADDR_CTE},
        exploded AS (
          SELECT doc_id, year_raw, year_lo, page_num, bx0, by0,
                 unnest(locs) AS loc_value,
                 generate_subscripts(locs, 1) - 1 AS loc_idx
          FROM parsed
        )
        SELECT
          'log' AS type,
          'geocode' AS log_kind,
          doc_id,
          {_YEAR_PART} || '.' || page_num || '.' || {_BBOX} AS entry_id,
          loc_idx::BIGINT AS loc_idx,
          loc_value,
          'Address not found: ' || loc_value AS error
        FROM exploded LEFT JOIN addresses
          ON lower(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(trim(loc_value), '(?i)^(h|r|bds|b)\.? +', '', 'g'), '(?i)^no\.? +([0-9])', '\1', 'g'), '(?i)\bb''?way\b', 'Broadway', 'g'), '(?i)\bgr''?wich\b', 'Greenwich', 'g'), '([0-9]+) ?½', '\1', 'g'), '([0-9]+) 1/2( |$)', '\1\2', 'g'), '(?i)^([nsew]\.? +)+cor(ner)?\.? +', '', 'g'), '(?i)^cor(ner)?\.? +', '', 'g'), '(?i) +c(or(ner)?)?\.? +', ' & ', 'g'), '(?i) +and +', ' & ', 'g'), '(?i) (st|str|street|av|ave|avenue|pl|place|rd|road)\.?$', '', 'g'), '[.,]+$', '', 'g'), ' {2,}', ' ', 'g'))) = lower(address_name)
        WHERE address_id IS NULL
        UNION ALL
        SELECT
          'log' AS type,
          'id' AS log_kind,
          doc_id,
          entry_id,
          NULL::BIGINT AS loc_idx,
          NULL::VARCHAR AS loc_value,
          'Could not make ID' AS error
        FROM (
          SELECT doc_id,
                 {_YEAR_PART} || '.' || page_num || '.' || {_BBOX} AS entry_id
          FROM lines
        ) ids
        WHERE entry_id IS NULL
    """,
}

# the full-pipeline twin: each arm is the already-verified per-step
# oracle, aligned on the common (row_type, row_id, ref, detail) shape
ORACLES["cd_pipeline"] = f"""
        SELECT 'object' AS row_type, entry_id::VARCHAR AS row_id,
               name::VARCHAR AS ref, geometry::VARCHAR AS detail
        FROM ({ORACLES["cd_transform_objects"]})
        UNION ALL
        SELECT 'relation', rel_from::VARCHAR, rel_to::VARCHAR,
               rel_type::VARCHAR
        FROM ({ORACLES["cd_relations"]})
        UNION ALL
        SELECT 'log', entry_id::VARCHAR, loc_value::VARCHAR,
               error::VARCHAR
        FROM ({ORACLES["cd_logs"]})
    """

# one aggregated pass over the transform output, then one row per
# schema rule (mirrors cd_validate_schema's single-agg + stack)
ORACLES["cd_validate_schema"] = (
    f"WITH t AS ({ORACLES['cd_transform_objects']}),\n"
    "wide AS (\n"
    "  SELECT COUNT(*)::BIGINT AS n_rows,\n"
    + ",\n".join(
        f"    SUM(CASE WHEN {pred} THEN 1 ELSE 0 END)::BIGINT AS {name}"
        for name, pred in _SCHEMA_RULES
    )
    + "\n  FROM t\n)\n"
    "SELECT rule, n_violations, n_rows FROM (\n"
    + "\nUNION ALL\n".join(
        f"  SELECT '{name}' AS rule, {name} AS n_violations, n_rows FROM wide"
        for name, _ in _SCHEMA_RULES
    )
    + "\n) ORDER BY rule"
)


OCC_TOP_PER_YEAR = 5


def cd_occupation_year_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analysis a Space/Time researcher runs OVER the output
    dataset: top occupations per directory year with geocoded share —
    the demographic time-series the NYPL project builds the dataset
    FOR. One partial-aggregated groupBy over the transform output
    plus a per-year rank window (WindowGroupLimit prunes map-side);
    no extra corpus scans beyond cd_transform_objects itself."""
    from pyspark.sql import Window

    t = cd_transform_objects(spark, sf_dir)
    agg = (
        t.filter(F.col("occupation").isNotNull())
        .groupBy(F.col("valid_since").alias("year"), "occupation")
        .agg(
            F.count(F.lit(1)).alias("n_persons"),
            F.sum(F.when(F.col("n_geocoded") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_geocoded_persons"),
        )
    )
    w = Window.partitionBy("year").orderBy(
        F.desc("n_persons"), F.asc("occupation")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= OCC_TOP_PER_YEAR)
        .select(
            "year",
            "occupation",
            "n_persons",
            "n_geocoded_persons",
            F.round(
                F.col("n_geocoded_persons").cast("double")
                / F.col("n_persons").cast("double"),
                4,
            ).alias("geocoded_rate"),
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("year", "rank")
    )


QUERIES["cd_occupation_year_stats"] = cd_occupation_year_stats

ORACLES["cd_occupation_year_stats"] = f"""
    WITH t AS ({ORACLES["cd_transform_objects"]}),
    agg AS (
      SELECT valid_since AS year, occupation,
             COUNT(*)::BIGINT AS n_persons,
             SUM(CASE WHEN n_geocoded > 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_geocoded_persons
      FROM t WHERE occupation IS NOT NULL
      GROUP BY valid_since, occupation
    )
    SELECT year, occupation, n_persons, n_geocoded_persons,
           ROUND(n_geocoded_persons::DOUBLE / n_persons::DOUBLE, 4)
             AS geocoded_rate,
           rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY year ORDER BY n_persons DESC, occupation
             )::BIGINT AS rank
      FROM agg
    )
    WHERE rank <= {OCC_TOP_PER_YEAR}
    ORDER BY year, rank
"""
