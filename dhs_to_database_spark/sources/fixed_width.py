"""Fixed-width multi-table ``.DAT`` demultiplexing — SURVEY.md §2.A A14-A17.

A CSPro ``.DAT`` file interleaves rows of many tables in one fixed-width
text file; a record-type tag at a fixed position in every line names the
target table. The spec (from the DCF parse) tells us, per record type, each
field's name/start/len.

Spark-first design: this is a *scan + N-way projection, partitioned by tag*.

- ``spark.read.text`` gives one string column per line; the record-type tag
  is a ``substring`` — a pure narrow op, no shuffle.
- Per record type the (tiny, driver-held) spec is rendered into ONE SQL
  expression — the analogue of the reference's pre-grouped field dict
  (DAT_Parser.py:51-56). A ``transform`` over a literal array of
  ``(start, len)`` pairs cuts every field of a line into one array, and the
  named columns (or the packed ``data`` map) index into that array. The
  driver cost is a constant handful of JVM calls whatever the field count;
  a 520-field record no longer builds 520 ``Column`` objects.
- Byte-offset slicing: positions are characters (the reference slices a
  Python ``str``). On a line whose byte count equals its character count —
  an ASCII-only line, ``octet_length(value) = length(value)`` — a field is
  a ``substring`` of the line's bytes, O(1) to locate. Equal counts mean
  every character is one byte, so byte and character offsets coincide and
  both slices agree. Other lines keep the character ``substring``, which
  walks the line from its start per field.
- Whitespace rule (DAT_Parser.py:87-105): every field is right/left-trimmed
  EXCEPT ``CASEID``/``HHID`` whose fixed-width padding is part of the key
  (HHID = CASEID minus last 3 chars — trimming would break referential
  integrity).
- Unknown record tags are dropped (and countable via ``unknown_tags``), the
  reference logs-and-skips (DAT_Parser.py:76-79).
- ``surveyid`` is derived from the file name (``input_file_name``), the
  Spark-native version of the reference injecting it at load (lib04:184).

At 100 TB: the text scan splits by HDFS/parquet block across executors; each
record type's projection is an independent column-pruned pass over the same
cached scan, and the partitioned write (``partitionBy('surveyid')``) gives
partition pruning for every downstream per-survey query.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NO_TRIM_KEYS = ("CASEID", "HHID")


@dataclass(frozen=True)
class FieldSpec:
    name: str
    start: int  # 1-based char position
    length: int


@dataclass(frozen=True)
class RecordSpec:
    record_name: str
    record_type_value: str
    fields: tuple[FieldSpec, ...]


@dataclass(frozen=True)
class DatSpec:
    """Driver-side compiled spec: record-tag position + per-tag field lists."""

    rt_start: int  # 1-based
    rt_len: int
    records: dict[str, RecordSpec]  # keyed by record_type_value


def spec_from_items(items) -> DatSpec:
    """Compile a DatSpec from the items spec (DataFrame or row dicts).

    The first spec row (``RecordName='*'``, ItemType='RecordDesciption')
    carries the record-tag Start/Len for the whole file
    (DAT_Parser.py:39-42); remaining rows are sorted by
    (RecordTypeValue, Start) (DAT_Parser.py:48).
    """
    if isinstance(items, DataFrame):
        rows = [r.asDict() for r in items.collect()]
    else:
        rows = [dict(r) for r in items]
    desc = [r for r in rows if r.get("ItemType") == "RecordDesciption"]
    if len(desc) != 1:
        raise ValueError(f"expected exactly one RecordDesciption row, got {len(desc)}")
    rt_start, rt_len = int(desc[0]["Start"]), int(desc[0]["Len"])

    data_rows = [r for r in rows if r.get("ItemType") != "RecordDesciption"]
    data_rows.sort(key=lambda r: (r["RecordTypeValue"], int(r["Start"])))
    records: dict[str, RecordSpec] = {}
    by_tag: dict[str, list] = {}
    for r in data_rows:
        by_tag.setdefault(r["RecordTypeValue"], []).append(r)
    for tag, rs in by_tag.items():
        names = {r["RecordName"] for r in rs}
        if len(names) != 1:  # reference invariant DAT_Parser.py:119-120
            raise ValueError(f"record type {tag!r} maps to multiple record names {names}")
        records[tag] = RecordSpec(
            record_name=names.pop(),
            record_type_value=tag,
            fields=tuple(FieldSpec(r["Name"], int(r["Start"]), int(r["Len"])) for r in rs),
        )
    return DatSpec(rt_start=rt_start, rt_len=rt_len, records=records)


_SURVEYID_RE = r"([0-9]+)\.[^/]*$"  # '511.CMIR71.DAT' -> 511


def read_tagged_lines(spark: SparkSession, path: str | list[str], spec: DatSpec) -> DataFrame:
    """One row per .DAT line with its record tag and source surveyid."""
    lines = spark.read.text(path)
    return lines.select(
        F.col("value"),
        F.substring("value", spec.rt_start, spec.rt_len).alias("record_type"),
        F.regexp_extract(F.input_file_name(), _SURVEYID_RE, 1).alias("surveyid"),
    )


def _sql_string(text: str) -> str:
    """``text`` as a Spark SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def project_record(tagged: DataFrame, rec: RecordSpec, packed: bool = False) -> DataFrame:
    """Select one record type's rows and split them into named columns.

    The whole projection is one SQL expression rendered from the spec: a
    ``transform`` over the literal ``(start, len)`` array cuts every field
    of the line — by byte offset on ASCII-only lines, by character
    otherwise (see the module docstring) — and each output column indexes
    into that array. Item names reach the SQL only as string literals
    (struct field names and map keys), so no item name can collide with
    the helper columns.

    NULL rule (pinned; SURVEY §7 item 5): a non-key field that trims to
    the empty string loads as NULL — the reference's table-load path COPYs
    with ``null=''`` (lib04:432-434), so '' and SQL NULL are the same
    storage state there and we normalize to NULL at demux time. Keys
    (CASEID/HHID) are exempt: they are never trimmed and never nulled,
    their padding being part of the key.

    ``packed=True`` gives the JSON-table shape of ``pack_wide_table``
    directly: key columns (``is_key_column``) first-class under the rule
    above, every other field in one ``data`` map<string,string> whose
    absent values are the empty STRING (reference ``fillna('')``
    lib04:455). Property-tested end-to-end in tests/test_properties.py.
    """
    columns, payload = rec.fields, ()
    if packed:
        from ..plans.schema_evolution import is_key_column

        columns = tuple(f for f in rec.fields if is_key_column(f.name))
        payload = tuple(f for f in rec.fields if not is_key_column(f.name))
    spans = "array(" + ", ".join(
        f"named_struct('s', {f.start}, 'l', {f.length})" for f in columns + payload
    ) + ")"
    # ``__line_bytes`` is referenced twice below, so the optimizer keeps it
    # in its own projection: the cast runs once per line, not per field.
    lines = tagged.filter(F.col("record_type") == rec.record_type_value).selectExpr(
        "surveyid",
        "value",
        "IF(octet_length(value) = length(value), CAST(value AS BINARY), NULL)"
        " AS __line_bytes",
    )
    cut = lines.selectExpr(
        "surveyid",
        f"IF(__line_bytes IS NULL,"
        f" transform({spans}, p -> substring(value, p.s, p.l)),"
        f" transform({spans}, p -> CAST(substring(__line_bytes, p.s, p.l) AS STRING)))"
        " AS __fields",
    )
    cols = []
    for i, f in enumerate(columns):
        value = f"__fields[{i}]"
        if f.name not in NO_TRIM_KEYS:
            value = f"nullif(trim({value}), '')"
        cols.append(f"{_sql_string(f.name)}, {value}")
    if packed:
        names = ", ".join(_sql_string(f.name) for f in payload)
        cols.append(
            f"'data', map_from_arrays(array({names}), transform("
            f"slice(__fields, {len(columns) + 1}, {len(payload)}),"
            " v -> coalesce(trim(v), '')))"
        )
    return cut.selectExpr(
        "surveyid", f"named_struct({', '.join(cols)}) AS __record"
    ).select("surveyid", "__record.*")


def demux_dat(
    spark: SparkSession, path: str | list[str], spec: DatSpec
) -> dict[str, DataFrame]:
    """Demultiplex .DAT file(s) into one DataFrame per record type.

    Returns ``{record_name: DataFrame}``. Each DataFrame is lazy; reading N
    record types re-scans the text N times unless the caller caches
    ``read_tagged_lines`` — for a write-everything pipeline prefer
    ``demux_to_parquet`` which caches the scan once.
    """
    tagged = read_tagged_lines(spark, path, spec)
    return {rec.record_name: project_record(tagged, rec) for rec in spec.records.values()}


def unknown_tags(spark: SparkSession, path: str | list[str], spec: DatSpec) -> DataFrame:
    """Lines whose tag has no spec (reference logs-and-skips these)."""
    tagged = read_tagged_lines(spark, path, spec)
    known = list(spec.records)
    return (
        tagged.filter(~F.col("record_type").isin(known))
        .groupBy("surveyid", "record_type")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


def demux_to_parquet(
    spark: SparkSession,
    path: str | list[str],
    spec: DatSpec,
    out_dir: str,
    mode: str = "overwrite",
    pack_wide: bool = True,
    sink_format: str = "parquet",
) -> dict[str, str]:
    """Demux + write one parquet dataset per record type, partitioned by
    surveyid (partition-pruned downstream; idempotent per-survey overwrite
    is the Spark-native version of the reference's drop-and-reload A22).

    Returns ``{record_name: destination}``. With a non-parquet
    ``sink_format`` (compute-only dry run) nothing lands on disk, so the
    destination is the empty string — never a phantom path (ADVICE r9).

    Wide records (r6): a record type whose PAYLOAD field count — keys
    excluded, see ``packed_record_names`` — crosses the reference's
    JSON-table threshold (>500 columns — the column-count
    half of the lib04:140-152 decision; the country-specific-label half
    needs a record label, which ``RecordSpec`` does not carry, so
    ``should_pack_as_map`` is called with label=None here and that
    predicate stays with the schema-evolution path) is written PACKED —
    key columns stay first-class, the payload collapses into one
    ``data`` map<string,string> column, the Spark-native jsonb.
    ``project_record(packed=True)`` builds that map straight from the
    line's field array, the shape ``pack_wide_table`` gives for the
    columnar demux. Same narrow shuffle-free plan: the pack is part of
    the one projection."""
    tagged = read_tagged_lines(spark, path, spec).cache()
    try:
        out = {}
        packed = packed_record_names(spec) if pack_wide else set()
        for rec in spec.records.values():
            dest = f"{out_dir}/{rec.record_name}"
            df = project_record(tagged, rec, packed=rec.record_name in packed)
            if sink_format == "parquet":
                df.write.mode(mode).partitionBy("surveyid").parquet(dest)
                out[rec.record_name] = dest
            else:
                # compute-only sink (e.g. "noop"): runs the full scan +
                # demux projection + pack without the partitioned write —
                # dry-run validation and the probe's compute axis. Nothing
                # lands on disk, so map to "" (ADVICE r9): callers must
                # not mistake the would-be destination for a real path.
                df.write.format(sink_format).mode(mode).save()
                out[rec.record_name] = ""
        return out
    finally:
        tagged.unpersist()


def packed_record_names(spec: DatSpec) -> set[str]:
    """Record types ``demux_to_parquet`` writes map-packed.

    The >500-column JSON-table threshold (lib04:140-152) is applied to the
    PAYLOAD column count — key columns (``is_key_column``) stay first-class
    in the packed shape and so are excluded from the count; counting them
    would shift the pack boundary by the key count (ADVICE r6). Callers
    that need to know which parquet shape was written (columnar vs
    key+``data`` map) consult this instead of sniffing the parquet footer.
    """
    from ..plans.schema_evolution import is_key_column, should_pack_as_map

    return {
        rec.record_name
        for rec in spec.records.values()
        if should_pack_as_map(
            sum(1 for f in rec.fields if not is_key_column(f.name)), None
        )
    }
