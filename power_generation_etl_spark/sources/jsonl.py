"""JSONL scans + per-source fixup chains (the reference's "plans").

Covers SURVEY §2.1 S1-S4 (scans), §2.3 F1-F9 (row-level fixups), and
the per-source load pipelines of reference src/database.py:451-1728.

Ordering: first-wins dedup (D1) is order-sensitive, so the scan must
expose the exact file line order — as a *splittable* read, or a 100×
single-file drop serializes the parse on one task and must fit in one
task's memory. ``spark.read.text`` splits files at
``spark.sql.files.maxPartitionBytes``; each split's lines are read in
file order, one split after another, inside one scan partition. So a
``monotonically_increasing_id`` taken after the blank-line filter is
dense and ascending within each split, and a tiny per-(file, split)
aggregate (line count and first id) turns it into the dense 0-based
record index the reference's ``enumerate`` produces — the lines are
never shuffled, and a multi-GB file still parses across many tasks.

Loads: each source's parse, fixup and validation expressions are built
once per session (``session.session_cached``); a load adds its run id
and clock as literal columns and pays one validation pass.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from power_generation_etl_spark.schemas import SOURCES, SourceSchema
from power_generation_etl_spark.session import session_cached
from power_generation_etl_spark.validation import (
    ORDER_COL,
    SKIP_COL,
    VARIANT_COL,
    LoadStats,
    ValidationReport,
    parse_fields,
    typ_col,
    validate,
)

# ENTSO-E PSR code → fuel-type name (public ENTSO-E transparency-platform
# code list; reference src/database.py:35-56 uses the same mapping).
PSR_TO_FUEL_TYPE = {
    "B01": "Biomass",
    "B02": "Fossil Brown coal/Lignite",
    "B03": "Fossil Coal-derived gas",
    "B04": "Fossil Gas",
    "B05": "Fossil Hard coal",
    "B06": "Fossil Oil",
    "B07": "Fossil Oil shale",
    "B08": "Fossil Peat",
    "B09": "Geothermal",
    "B10": "Hydro Pumped Storage",
    "B11": "Hydro Run-of-river and poundage",
    "B12": "Hydro Water Reservoir",
    "B13": "Marine",
    "B14": "Nuclear",
    "B15": "Other renewable",
    "B16": "Solar",
    "B17": "Waste",
    "B18": "Wind Offshore",
    "B19": "Wind Onshore",
    "B20": "Other",
}

# Longest-first, single strip each, data-type before fuel-type
# (reference src/database.py:59-61, 672-682).
_FUEL_SUFFIXES = sorted(PSR_TO_FUEL_TYPE.values(), key=len, reverse=True)
_DATA_TYPE_SUFFIXES = ["Actual Aggregated", "Actual Consumption"]


def read_jsonl_lines(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """S1-S3: blank-line-tolerant JSONL scan with exact line order.

    Returns columns (_file, _order, line). ``_order`` is the 0-based
    index among non-blank lines of the file, matching the reference's
    ``enumerate`` over stripped lines.

    Splittable (see module docstring): a multi-GB file parses across
    many tasks. Each non-blank line gets a ``monotonically_increasing_id``
    *after* the blank-line filter; one aggregate over (file, split) —
    at most one row per scan split — gives each split's line count and
    minimum id, a prefix sum over a file's splits gives each split's
    offset, and ``_order = offset + id - min_id``. The lines themselves
    are never shuffled or sorted.

    Correctness condition: a split's rows are contiguous inside its scan
    partition (a partition reads its splits one after another, each in
    file order), so within a split the ids are consecutive. Several
    splits — of one file or of several files — may share a partition.
    Because the id encodes the partition index, the aggregate's scan of
    ``lines`` and the join side's scan must also plan identical
    partitions. They do: both read the one relation ``spark.read.text``
    built (one cached file listing), so they cut the same splits
    whenever their split size — ``maxPartitionBytes``,
    ``openCostInBytes`` and the default parallelism — is the same, and
    the packing of splits into partitions is a deterministic function of
    those splits. The (file, split) join key already needs identical
    splits; a parallelism change between the two scans (executors added
    mid-query) would break both.

    Split order comes from the contractual ``_metadata.file_block_start``
    hidden column (the split's byte offset within the file, Spark
    3.5+), NOT from ``spark_partition_id`` — partition ids depend on
    undocumented bin-packing internals, while byte offsets ARE line
    order for a text source.
    """
    from pyspark.sql.window import Window

    lines = (
        spark.read.text(path)
        .filter(F.length(F.trim("value")) > 0)
        .select(
            F.input_file_name().alias("_file"),
            F.col("_metadata.file_block_start").alias("_bs"),
            F.monotonically_increasing_id().alias("_mid"),
            F.col("value").alias("line"),
        )
    )
    splits = lines.groupBy("_file", "_bs").agg(
        F.count(F.lit(1)).alias("_n"), F.min("_mid").alias("_min_mid")
    )
    w_off = (
        Window.partitionBy("_file")
        .orderBy("_bs")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = splits.select(
        "_file",
        "_bs",
        (F.coalesce(F.sum("_n").over(w_off), F.lit(0)) - F.col("_min_mid")).alias("_off"),
    )
    return lines.join(F.broadcast(offsets), ["_file", "_bs"]).select(
        "_file", (F.col("_mid") + F.col("_off")).alias(ORDER_COL), "line"
    )


def psr_fuel_expr(psr: Column, fuel: Column) -> Column:
    """F3: fuel_type overridden whenever psr_type matches the code table
    (reference src/database.py:667-670); unknown codes keep the raw
    fuel. Pure Column expression — reused by the load path and by the
    `entsoe_fixup_chain` catalog query."""
    psr_map = F.create_map(*[F.lit(x) for kv in PSR_TO_FUEL_TYPE.items() for x in kv])
    mapped = psr_map[psr]
    return F.when(mapped.isNotNull(), mapped).otherwise(fuel)


def strip_plant_suffixes_expr(name: Column) -> Column:
    """F4: strip at most one data-type suffix, then at most one
    fuel-type suffix (longest-first) from a plant name — reference
    src/database.py:59-61, 672-682. Null passes through."""
    s1 = name
    for sfx in _DATA_TYPE_SUFFIXES:
        cut = "_" + sfx
        s1 = F.when(
            name.endswith(F.lit(cut)),
            name.substr(F.lit(1), F.length(name) - F.lit(len(cut))),
        ).otherwise(s1)
    expr = None
    for sfx in _FUEL_SUFFIXES:
        cut = "_" + sfx
        cond = s1.endswith(F.lit(cut))
        val = s1.substr(F.lit(1), F.length(s1) - F.lit(len(cut)))
        # longest-first, at most one strip: earlier whens win.
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr.otherwise(s1)


def parse_string_ts_ms(raw: Column) -> Column:
    """F1: string timestamp → epoch-ms; naive wall-clocks are read as
    UTC, offset-carrying strings are absolute instants (reference
    src/database.py:640-666). Unparseable → null (callers skip).

    try_to_timestamp interprets naive strings in the session tz, so the
    naive branch shifts by the session offset to recover naive-as-UTC —
    session-timezone-independent by construction."""
    parsed = F.try_to_timestamp(raw)
    has_tz = raw.rlike(r"([+-][0-9]{2}:?[0-9]{2}|[zZ])\s*$")
    return F.when(has_tz, F.unix_millis(parsed)).otherwise(
        F.unix_millis(F.from_utc_timestamp(parsed, F.current_timezone()))
    )


def peek_first_record(spark: SparkSession, path: str | list[str]) -> dict:
    """Driver-side look at the first non-blank line (the reference's
    ``data[0]`` presence checks). A list of paths peeks the
    lexicographically-first file — the first file a sequential loader
    would process.

    Cheap path: CollectLimit consumes scan partitions in order and the
    text source yields each split's lines in file order, so
    filter+limit(1) reads only the head of the first split — no
    ranking pass over the whole (possibly multi-GB) file."""
    if isinstance(path, (list, tuple)):
        path = min(path) if path else ""
    row = (
        spark.read.text(path)
        .filter(F.length(F.trim("value")) > 0)
        .limit(1)
        .collect()
    )
    if not row:
        return {}
    try:
        rec = json.loads(row[0]["value"])
        return rec if isinstance(rec, dict) else {}
    except (ValueError, TypeError):
        return {}


# Per-load literal columns the cached fixup expressions read.
RUN_ID_COL = "_run_id"
CREATED_COL = "_created_at_ms"

# A fixup is a list of stages applied in order, one ``withColumns`` each;
# every expression of a stage reads the previous stage's output.
Stages = list[dict[str, Column]]


def _inject(fname: str, value: Column, vtyp: str, only_missing: bool = True) -> dict[str, Column]:
    """Set field + its JSON-type marker; either fill-missing or overwrite."""
    if only_missing:
        return {
            fname: F.coalesce(F.col(fname), value),
            typ_col(fname): F.coalesce(F.col(typ_col(fname)), F.lit(vtyp)),
        }
    return {fname: value, typ_col(fname): F.lit(vtyp)}


def _inject_metadata_first_record_gated(missing: tuple[str, ...]) -> dict[str, Column]:
    """EIA/ONS/OE/OE-facility/OCCTO/Chile pattern (reference
    src/database.py:961-974 etc.): if the *first* record lacks the field,
    set it on every record. ``missing`` names the metadata fields the
    first record lacks."""
    out = {}
    if "extraction_run_id" in missing:
        out |= _inject("extraction_run_id", F.col(RUN_ID_COL), "STRING", only_missing=False)
    if "created_at_ms" in missing:
        out |= _inject("created_at_ms", F.col(CREATED_COL), "BIGINT", only_missing=False)
    return out


def _fixup_npp() -> Stages:
    """Reference src/database.py:480-499: per-record harmonized/legacy split."""
    harmonized = F.col(typ_col("extraction_run_id")).isNotNull() & F.col(
        typ_col("timestamp_ms")
    ).isNotNull()
    # Harmonized: fill created_at if missing. Legacy: overwrite run
    # metadata, convert epoch-seconds `date` → timestamp_ms. The second
    # stage reads the first stage's run-id marker, which is never null
    # by then, so there `harmonized` keys on the timestamp marker alone.
    legacy_ts = F.expr(f"try_variant_get({VARIANT_COL}, '$.date', 'double')")
    run_id = {
        "extraction_run_id": F.when(harmonized, F.col("extraction_run_id")).otherwise(
            F.col(RUN_ID_COL)
        ),
        typ_col("extraction_run_id"): F.when(
            harmonized, F.col(typ_col("extraction_run_id"))
        ).otherwise(F.lit("STRING")),
    }
    rest = {
        "created_at_ms": F.when(
            harmonized, F.coalesce(F.col("created_at_ms"), F.col(CREATED_COL))
        ).otherwise(F.col(CREATED_COL)),
        typ_col("created_at_ms"): F.when(
            harmonized, F.coalesce(F.col(typ_col("created_at_ms")), F.lit("BIGINT"))
        ).otherwise(F.lit("BIGINT")),
        "timestamp_ms": F.when(harmonized, F.col("timestamp_ms")).otherwise(
            (legacy_ts * 1000).cast("long")
        ),
        typ_col("timestamp_ms"): F.when(harmonized, F.col(typ_col("timestamp_ms"))).otherwise(
            F.when(legacy_ts.isNotNull(), F.lit("BIGINT"))
        ),
    }
    return [run_id, rest]


def _fixup_entsoe() -> Stages:
    """Reference src/database.py:621-682: per-record metadata injection,
    string-timestamp parse (naive treated as UTC, unparseable/null →
    record skipped with warning), PSR→fuel_type remap, plant-name
    suffix strip."""
    # A *missing* plant_name becomes '' (reference record.get('plant_name','')
    # + unconditional reassignment, src/database.py:672-682), so it fails
    # validation as "must be non-empty string", not "missing required
    # field". An explicit JSON null keeps its VOID type marker and still
    # fails the type check — `_inject` only fills a NULL (absent) marker.
    inject = (
        _inject("extraction_run_id", F.col(RUN_ID_COL), "STRING")
        | _inject("created_at_ms", F.col(CREATED_COL), "BIGINT")
        | _inject("plant_name", F.lit(""), "STRING")
    )

    t = F.col(typ_col("timestamp_ms"))
    raw_str = F.expr(f"try_variant_get({VARIANT_COL}, '$.timestamp_ms', 'string')")
    parsed = F.try_to_timestamp(raw_str)
    parsed_ms = parse_string_ts_ms(raw_str)
    is_string_ts = t == "STRING"
    is_numeric_ts = (t == "BIGINT") | (t == "DOUBLE") | t.startswith("DECIMAL") | (t == "BOOLEAN")
    numeric_ms = F.expr(
        f"try_variant_get({VARIANT_COL}, '$.timestamp_ms', 'double')"
    ).cast("long")

    # PSR remap (F3) + suffix strip (F4) via the shared helpers.
    psr_map = F.create_map(*[F.lit(x) for kv in PSR_TO_FUEL_TYPE.items() for x in kv])
    mapped = psr_map[F.col("psr_type")]
    fix = {
        SKIP_COL: F.when(is_string_ts & parsed.isNull(), F.lit("unparseable timestamp")).when(
            t == "VOID", F.lit("null timestamp")
        ),
        "timestamp_ms": F.when(is_string_ts, parsed_ms)
        .when(is_numeric_ts, numeric_ms)
        .otherwise(F.col("timestamp_ms")),
        typ_col("timestamp_ms"): F.when(is_string_ts & parsed.isNotNull(), F.lit("BIGINT"))
        .when(is_numeric_ts, F.lit("BIGINT"))
        .otherwise(t),
        "fuel_type": psr_fuel_expr(F.col("psr_type"), F.col("fuel_type")),
        typ_col("fuel_type"): F.when(mapped.isNotNull(), F.lit("STRING")).otherwise(
            F.col(typ_col("fuel_type"))
        ),
        "plant_name": strip_plant_suffixes_expr(F.col("plant_name")),
    }
    return [inject, fix]


def _fixup_eia(missing: tuple[str, ...]) -> Stages:
    """Reference src/database.py:961-988: first-record-gated metadata
    injection; utility_id/plant_code/generator_id stringified *before*
    validation (so a numeric id validates and dedups as its string)."""
    # `str()` is applied to ANY present non-string value (reference
    # src/database.py:975-983 checks only `not isinstance(v, str)`), so
    # an explicit null becomes the literal 'None' and a bool becomes
    # 'True'/'False' — faithful, if surprising.
    ids = {}
    for fname in ("utility_id", "plant_code", "generator_id"):
        t = F.col(typ_col(fname))
        v = F.col(fname)
        pyified = (
            F.when(t == "VOID", F.lit("None"))
            .when(t == "BOOLEAN", F.initcap(v))
            .otherwise(v)
        )
        ids[fname] = F.when(t.isNull(), v).otherwise(pyified)
        ids[typ_col(fname)] = F.when(t.isNull(), t).otherwise(F.lit("STRING"))
    return [_inject_metadata_first_record_gated(missing) | ids]


def _fixup_chile(missing: tuple[str, ...]) -> Stages:
    """Reference src/database.py:1629-1640: legacy plant_id →
    chile_plant_id rename, then first-record-gated injection."""
    legacy = F.expr(f"try_variant_get({VARIANT_COL}, '$.plant_id', 'string')")
    legacy_typ = F.expr(
        f"schema_of_variant(try_variant_get({VARIANT_COL}, '$.plant_id'))"
    )
    take_legacy = F.col(typ_col("chile_plant_id")).isNull() & legacy_typ.isNotNull()
    rename = {
        "chile_plant_id": F.when(take_legacy, legacy).otherwise(F.col("chile_plant_id")),
        typ_col("chile_plant_id"): F.when(take_legacy, legacy_typ).otherwise(
            F.col(typ_col("chile_plant_id"))
        ),
    }
    return [rename | _inject_metadata_first_record_gated(missing)]


def _fixup_gated(missing: tuple[str, ...]) -> Stages:
    return [_inject_metadata_first_record_gated(missing)]


# source → fixup builder. npp and entsoe fill run metadata per record;
# the first-record-gated builders take the metadata fields the file's
# first record lacks, which is part of their cache key.
_FIXUPS = {"npp": _fixup_npp, "entsoe": _fixup_entsoe}
_GATED_FIXUPS = {
    "eia": _fixup_eia,
    "ons": _fixup_gated,
    "oe": _fixup_gated,
    "oe_facility": _fixup_gated,
    "occto": _fixup_gated,
    "chile": _fixup_chile,
}


def load_and_validate(
    spark: SparkSession,
    source: str,
    path: str | list[str],
    run_id: str | None = None,
    now_ms: int | None = None,
    *,
    stats: LoadStats | None = None,
) -> tuple[DataFrame, ValidationReport]:
    """Full pre-insert pipeline: scan → fixups → validate → first-wins
    dedup. Returns (valid typed DataFrame incl. _file/_order, report).
    A list of paths loads the whole batch in ONE pass; first-wins dedup
    across files follows lexicographic path order. ``stats``, when
    given, receives the file's first record and the valid rows'
    ``timestamp_ms`` bounds."""
    schema: SourceSchema = SOURCES[source]
    stats = stats if stats is not None else LoadStats()
    stats.first_record = peek_first_record(spark, path)
    created_at_ms = now_ms if now_ms is not None else int(time.time() * 1000)
    if source in _GATED_FIXUPS:
        missing = tuple(
            f for f in ("extraction_run_id", "created_at_ms") if f not in stats.first_record
        )
        stages = session_cached(
            spark, ("fixup", source, missing), lambda: _GATED_FIXUPS[source](missing)
        )
    else:
        stages = session_cached(spark, ("fixup", source), _FIXUPS[source])
    df = parse_fields(read_jsonl_lines(spark, path), schema).withColumns(
        {RUN_ID_COL: F.lit(run_id or str(uuid.uuid4())), CREATED_COL: F.lit(created_at_ms)}
    )
    for stage in stages:
        if stage:
            df = df.withColumns(stage)
    source_file = ", ".join(path) if isinstance(path, (list, tuple)) else path
    return validate(df, schema, source_file=source_file, now_ms=created_at_ms, stats=stats)
