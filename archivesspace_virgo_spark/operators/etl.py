"""ETL parity operators from the reference pipeline (SURVEY.md §2.2-§2.7).

Each operator is a Spark Column/DataFrame function plus a co-maintained
DuckDB SQL fragment used by the driver's correctness oracle.  Reference
citations point at /root/reference (the behavior source; implementations are
Spark-first, not ports).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# O1 — natural-order sort key (StringNaturalCompare.java:84-145)
# "Box 2" < "Box 10": digit runs compare numerically, text case-folds.
# Instead of a comparator (not expressible in SQL engines), derive a sort KEY:
# split into digit / non-digit runs; zero-pad digit runs to 20; lowercase text.
# Divergence noted: the reference's leading-zero "fractional" branch
# (compareLeft, :57-82) is not reproduced — zero-padding gives plain numeric
# order for those inputs.
# ---------------------------------------------------------------------------

NATURAL_RUNS_PATTERN = "([0-9]+|[^0-9]+)"


def natural_sort_key(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    runs = F.regexp_extract_all(c, F.lit(NATURAL_RUNS_PATTERN), 1)
    keyed = F.transform(
        runs,
        lambda p: F.when(p.rlike("^[0-9]+$"), F.lpad(p, 20, "0")).otherwise(
            F.lower(p)
        ),
    )
    return F.array_join(keyed, "")


def natural_sort_key_sql(expr: str) -> str:
    return (
        "list_aggregate(list_transform("
        f"regexp_extract_all({expr}, '{NATURAL_RUNS_PATTERN}', 1), "
        "p -> CASE WHEN regexp_matches(p, '^[0-9]+$') THEN lpad(p, 20, '0') "
        "ELSE lower(p) END), 'string_agg', '')"
    )


# ---------------------------------------------------------------------------
# O1 faithful variant — natural order INCLUDING the leading-zero
# "fractional" branch (StringNaturalCompare.java:57-82, the classic
# strnatcmp semantics: a digit run starting with '0' compares left-aligned
# like fraction digits, so 'Box 012' < 'Box 1' < 'Box 2' < 'Box 11').
# Key encoding per run:
#   leading-zero digit run  -> '0' + digits      (string compare IS the
#                              left-aligned compare; shorter prefix first)
#   other digit run         -> '1' + lpad(d, 20) (length-then-value)
#   text run                -> upper(text)       (case fold; sorts after
#                              both digit classes since 'A' > '1')
# Whitespace is skipped, as in the reference.  Output is array<string>
# (element-wise ordering) so run boundaries can't bleed into each other.
# Documented divergence: text runs starting with punctuation below '0'
# (e.g. '!') sort after digit runs here, before them in the reference.
# ---------------------------------------------------------------------------

def natural_sort_key_frac(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    runs = F.regexp_extract_all(c, F.lit(r"([0-9]+|[^0-9\s]+)"), 1)
    return F.transform(
        runs,
        lambda r: F.when(r.rlike("^0"), F.concat(F.lit("0"), r))
        .when(r.rlike("^[0-9]"), F.concat(F.lit("1"), F.lpad(r, 20, "0")))
        .otherwise(F.upper(r)),
    )


def natural_sort_key_frac_sql(expr: str) -> str:
    return (
        f"list_transform(regexp_extract_all({expr}, '([0-9]+|[^0-9\\s]+)', 1), "
        "r -> CASE WHEN regexp_matches(r, '^0') THEN '0' || r "
        "WHEN regexp_matches(r, '^[0-9]') THEN '1' || lpad(r, 20, '0') "
        "ELSE upper(r) END)"
    )


# ---------------------------------------------------------------------------
# F5 — date bucketing (ASpaceObject.java:322-337): stacked "years ago"
# facet labels.  Reference thresholds: >50 / <=50 / <=10 / <=3 / <=1.
# A FIXED reference year keeps both engines deterministic (the reference uses
# wall-clock yearsAgo; pinning it is the hermetic-test adaptation).
# ---------------------------------------------------------------------------

REFERENCE_YEAR = 2026
_BUCKETS = [(1, "last1"), (3, "last3"), (10, "last10"), (50, "last50")]


def date_bucket_labels(year_col: Column | str, ref_year: int = REFERENCE_YEAR) -> Column:
    y = F.col(year_col) if isinstance(year_col, str) else year_col
    age = F.lit(ref_year) - y
    labels = [F.when(age <= n, F.lit(lab)).otherwise(F.lit(None)) for n, lab in _BUCKETS]
    labels.append(F.when(age > 50, F.lit("over50")).otherwise(F.lit(None)))
    arr = F.array_compact(F.array(*labels))
    return F.array_join(arr, ",")


def date_bucket_labels_sql(year_expr: str, ref_year: int = REFERENCE_YEAR) -> str:
    age = f"({ref_year} - {year_expr})"
    parts = [
        f"CASE WHEN {age} <= {n} THEN 'last{n}' END" for n, _ in _BUCKETS
    ]
    parts.append(f"CASE WHEN {age} > 50 THEN 'over50' END")
    return (
        "array_to_string(list_filter([" + ", ".join(parts) + "], x -> x IS NOT NULL), ',')"
    )


# ---------------------------------------------------------------------------
# F1/F2 — id normalization + null-skipping concat (ASpaceObject.java:205-224)
# ---------------------------------------------------------------------------

def normalize_id(col: Column | str) -> Column:
    """replace('-','_'), strip '/' and spaces, uppercase (F1)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.regexp_replace(F.regexp_replace(c, "-", "_"), "[/ ]", ""))


def normalize_id_sql(expr: str) -> str:
    return f"upper(regexp_replace(replace({expr}, '-', '_'), '[/ ]', '', 'g'))"


# F10/F11 — coalesce-with-derived-fallback (ASpaceTopContainer.java:80-101)

def coalesce_or_derived(primary: Column, fallback: Column) -> Column:
    return F.coalesce(primary, fallback)


# ---------------------------------------------------------------------------
# O5 — MARC non-filing-indicator sort prep (ASpaceObject.java:660-665):
# leading-article offset ('A ' -> 2, 'The ' -> 4, else 0)
# ---------------------------------------------------------------------------

def nonfiling_offset(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c.startswith("The "), F.lit(4))
        .when(c.startswith("A "), F.lit(2))
        .otherwise(F.lit(0))
    )


def nonfiling_offset_sql(expr: str) -> str:
    return (
        f"CASE WHEN starts_with({expr}, 'The ') THEN 4 "
        f"WHEN starts_with({expr}, 'A ') THEN 2 ELSE 0 END"
    )


# ---------------------------------------------------------------------------
# F9 — capture-group regex rewrite (thumbnail resize,
# ASpaceObject.java:531-540): insert a size spec between /full/ and the rest
# ---------------------------------------------------------------------------

THUMB_PATTERN = "(https://.*/full/)[^/]*(/.*)"


def thumbnail_resize(col: Column | str, size: str = "!115,125") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, THUMB_PATTERN, f"$1{size}$2")


def thumbnail_resize_sql(expr: str, size: str = "!115,125") -> str:
    return rf"regexp_replace({expr}, '{THUMB_PATTERN}', '\1{size}\2')"


# ---------------------------------------------------------------------------
# F15 — year -> ISO timestamp (aspace-solr-v3-to-v4.xsl:67-71):
# published_date = concat(year, '-01-01T00:00:00Z')
# ---------------------------------------------------------------------------

def year_to_timestamp(year_col: Column | str) -> Column:
    y = F.col(year_col) if isinstance(year_col, str) else year_col
    return F.to_timestamp(F.concat(y.cast("string"), F.lit("-01-01T00:00:00Z")))


def year_to_timestamp_sql(year_expr: str) -> str:
    return (
        f"strptime(CAST({year_expr} AS VARCHAR) || '-01-01T00:00:00Z', "
        "'%Y-%m-%dT%H:%M:%SZ')"
    )


# ---------------------------------------------------------------------------
# P4 — shadow gate on projection (ASpaceObject.java:256-258): shadowed rows
# emit only skeletal fields; visible rows get the full enrichment block
# ---------------------------------------------------------------------------

def shadow_gate(shadowed: Column, skeletal: Column, enriched: Column) -> Column:
    return F.when(shadowed, skeletal).otherwise(enriched)


# ---------------------------------------------------------------------------
# F8 — mirador manifest URL extraction (UvaHelper.java:22-28): URLs with the
# mirador prefix yield everything after the first '='; others pass through
# ---------------------------------------------------------------------------

MIRADOR_PREFIX = "http://mirador.lib"


def extract_manifest_url(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.startswith(MIRADOR_PREFIX), F.regexp_replace(c, "^[^=]*=", "")
    ).otherwise(c)


def extract_manifest_url_sql(expr: str) -> str:
    return (
        f"CASE WHEN starts_with({expr}, '{MIRADOR_PREFIX}') "
        f"THEN regexp_replace({expr}, '^[^=]*=', '') ELSE {expr} END"
    )


# ---------------------------------------------------------------------------
# F3 — extent display string (ASpaceObject.java:290-298):
# number + ' ' + extent_type.replace('_',' ') [+ ' (' + container_summary + ')']
# ---------------------------------------------------------------------------

def extent_string(number: Column, extent_type: Column,
                  container_summary: Column) -> Column:
    base = F.concat(number.cast("string"), F.lit(" "),
                    F.replace(extent_type, F.lit("_"), F.lit(" ")))
    return F.when(
        container_summary.isNotNull(),
        F.concat(base, F.lit(" ("), container_summary, F.lit(")")),
    ).otherwise(base)


def extent_string_sql(number: str, extent_type: str, summary: str) -> str:
    base = f"CAST({number} AS VARCHAR) || ' ' || replace({extent_type}, '_', ' ')"
    return (
        f"CASE WHEN {summary} IS NOT NULL "
        f"THEN {base} || ' (' || {summary} || ')' ELSE {base} END"
    )


# ---------------------------------------------------------------------------
# F4 — end-year parse (ASpaceObject.java:312-316): '1912' -> 1912,
# '1912-1918' -> 1918 (substring after the dash), anything else -> NULL
# (the reference throws; total-function adaptation like F7)
# ---------------------------------------------------------------------------

def end_year(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c.rlike("^[0-9]{4}$"), c.cast("int"))
        .when(c.rlike("^[0-9]{4}-[0-9]{4}$"), F.substring(c, 6, 4).cast("int"))
    )


def end_year_sql(expr: str) -> str:
    return (
        f"CASE WHEN regexp_matches({expr}, '^[0-9]{{4}}$') "
        f"THEN CAST({expr} AS INT) "
        f"WHEN regexp_matches({expr}, '^[0-9]{{4}}-[0-9]{{4}}$') "
        f"THEN CAST(substr({expr}, 6, 4) AS INT) END"
    )


# ---------------------------------------------------------------------------
# F17 — role-suffix concat map (avalon-solr-v3-to-v4.xsl:30-56): a display
# name is suffixed ' (composer)', ' (conductor)', ... per its role code;
# unknown roles pass through bare (the aut_display no-suffix row)
# ---------------------------------------------------------------------------

AVALON_ROLE_SUFFIXES = {
    "act": " (actor)", "arr": " (arranger)", "aus": " (screenwriter)",
    "cmp": " (composer)", "cnd": " (conductor)", "cng": " (cinematographer)",
    "cre": " (creator)", "ctb": " (contributor)", "dst": " (distributor)",
    "edt": " (editor)", "hst": " (host)", "itr": " (instrumentalist)",
    "ive": " (interviewer)", "mod": " (moderator)",
    "msd": " (musical director)", "mus": " (musician)", "nrt": " (narrator)",
    "pan": " (panelist)", "pre": " (presenter)",
    "prn": " (production company)", "pro": " (producer)",
    "rcd": " (recordist)", "sng": " (singer)", "spk": " (speaker)",
}


def role_suffix(name: Column, role: Column) -> Column:
    """Append the role's display suffix via a map literal (stays in codegen:
    element_at on a create_map of literals; no UDF)."""
    pairs = []
    for k, v in AVALON_ROLE_SUFFIXES.items():
        pairs.extend([F.lit(k), F.lit(v)])
    m = F.create_map(*pairs)
    return F.concat(name, F.coalesce(F.element_at(m, role), F.lit("")))


def role_suffix_sql(name: str, role: str) -> str:
    entries = ", ".join(
        f"'{k}': '{v}'" for k, v in AVALON_ROLE_SUFFIXES.items()
    )
    # DuckDB map lookup yields a LIST; [1] unwraps (empty list -> NULL)
    return (
        f"{name} || coalesce((MAP {{{entries}}})[{role}][1], '')"
    )


# ---------------------------------------------------------------------------
# F22 — Virgo-id prefix classification (SolrHelper.java:122-130): no space or
# '/', and one of the known call-number prefixes
# ---------------------------------------------------------------------------

VIRGO_ID_PREFIXES = ("VIU", "MSS", "VACVUCN", "RG_", "MS_")


def is_unique_virgo_id(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    clean = ~(c.contains(" ") | c.contains("/"))
    any_prefix = None
    for p in VIRGO_ID_PREFIXES:
        t = c.startswith(p)
        any_prefix = t if any_prefix is None else (any_prefix | t)
    return clean & any_prefix


def is_unique_virgo_id_sql(expr: str) -> str:
    prefixes = " OR ".join(
        f"starts_with({expr}, '{p}')" for p in VIRGO_ID_PREFIXES
    )
    return (
        f"(NOT (contains({expr}, ' ') OR contains({expr}, '/'))) "
        f"AND ({prefixes})"
    )


# ---------------------------------------------------------------------------
# P1 — collection visibility predicate (ASpaceCollection.java:45-49):
# publish && processing_status == 'completed' && has top containers
# ---------------------------------------------------------------------------

def collection_visible(publish: Column, processing_status: Column,
                       n_containers: Column) -> Column:
    return publish & (processing_status == "completed") & (n_containers > 0)


# ---------------------------------------------------------------------------
# P3 — publish visibility filter (ASpaceTopContainer.java:44-46,
# ASpaceDigitalObject.java:42-44, ASpaceArchivalObject.java:30-32): the
# simplest of the visibility predicates — a bare boolean gate
# ---------------------------------------------------------------------------

def publish_filter(df: DataFrame, publish_col: str = "publish") -> DataFrame:
    return df.filter(F.col(publish_col))


# ---------------------------------------------------------------------------
# P7 — role predicate (ASpaceObject.java:360-367): only creator-role agents
# project into the author fields
# ---------------------------------------------------------------------------

CREATOR_ROLE = "creator"


def creator_role_filter(df: DataFrame, role_col: str = "role") -> DataFrame:
    return df.filter(F.col(role_col) == CREATOR_ROLE)


# ---------------------------------------------------------------------------
# P5/U2 — route/split one scan into per-route outputs
# (instance-type routing ASpaceObject.java:182-186; aspace-vs-avalon output
# partitions IndexRecordsForV4.java:83-89)
# ---------------------------------------------------------------------------

def route_label(col: Column | str, predicate_labels: list[tuple[Column, str]],
                default: str = "other") -> Column:
    """First-match route label for a row (the split key)."""
    expr = None
    for pred, label in predicate_labels:
        expr = (
            F.when(pred, F.lit(label)) if expr is None
            else expr.when(pred, F.lit(label))
        )
    return expr.otherwise(F.lit(default))


def write_routed(df: DataFrame, route_col: str, path: str) -> None:
    """ONE scan, per-route output directories: partitionBy on the route
    label (each route lands in route=<label>/; two filtered writes would
    scan the source twice)."""
    df.write.mode("overwrite").partitionBy(route_col).parquet(path)


# ---------------------------------------------------------------------------
# Table-level parity ops
# ---------------------------------------------------------------------------

def collect_json_array(df: DataFrame, key: str, cols: list[str]) -> DataFrame:
    """A2 — collect rows into ONE JSON-array-of-objects string per key
    (containers -> special_collections_holding_display,
    ASpaceObject.java:377-404).  Order-stable via array_sort on the struct
    (field-order comparison) so the output is deterministic."""
    return df.groupBy(key).agg(
        F.to_json(F.array_sort(F.collect_list(F.struct(*cols)))).alias("json_arr")
    )


def string_agg(df: DataFrame, key: str, value: str, sep: str = "\n") -> DataFrame:
    """A1 — order-stable string aggregation (subnote concat,
    ASpaceObject.java:449-458)."""
    return df.groupBy(key).agg(
        F.array_join(F.sort_array(F.collect_list(value)), sep).alias("agg_value")
    )


def shadowed_anti_join(fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """J4/P2 — rows with NO published counterpart (left anti,
    ASpaceAccession.java:40-52)."""
    return fact.join(dim, key, "left_anti")


def existing_semi_join(fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """J3-style dirty-key semi join (IndexRecords.java:141-167)."""
    return fact.join(dim, key, "left_semi")
