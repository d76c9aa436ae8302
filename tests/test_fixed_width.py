"""Unit tests for fixed-width DAT demux (SURVEY.md §2.A A14-A17)."""

from __future__ import annotations

import pytest

from dhs_to_database_spark.sources.cspro_dcf import parse_dcf_text
from dhs_to_database_spark.sources.fixed_width import (
    demux_dat,
    demux_to_parquet,
    spec_from_items,
    unknown_tags,
)
from tests.fixtures_cspro import DAT_LINES, DCF_TEXT


@pytest.fixture(scope="module")
def dat_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("dat")
    (d / "511.TESTFC.DAT").write_text("\n".join(DAT_LINES) + "\n")
    return str(d)


@pytest.fixture(scope="module")
def spec():
    return spec_from_items(parse_dcf_text("511.TESTFC", DCF_TEXT).items)


def test_spec_compilation(spec):
    assert (spec.rt_start, spec.rt_len) == (16, 3)
    assert set(spec.records) == {"H00", "H01", "H4A"}
    rech1 = spec.records["H01"]
    assert rech1.record_name == "RECH1"
    # sorted by Start; id item first
    assert [f.name for f in rech1.fields] == ["CASEID", "HVIDX", "HV105", "HV438"]


def test_demux_tables_and_columns(spark, dat_dir, spec):
    tables = demux_dat(spark, dat_dir, spec)
    assert set(tables) == {"RECH0", "RECH1", "RECH4A"}
    rech0 = tables["RECH0"].collect()
    assert len(rech0) == 2
    assert tables["RECH1"].count() == 3
    assert tables["RECH4A"].count() == 1
    assert tables["RECH0"].columns == ["surveyid", "CASEID", "HV006", "HV015"]


def test_caseid_not_trimmed_other_fields_trimmed(spark, dat_dir, spec):
    """The whitespace-significant-keys invariant (DAT_Parser.py:87-105):
    CASEID keeps its fixed-width padding, other fields are trimmed."""
    rows = {r["CASEID"]: r for r in demux_dat(spark, dat_dir, spec)["RECH0"].collect()}
    assert "       1   901 " in rows  # 15 chars incl. trailing pad
    r1 = rows["       1   901 "]
    assert r1["HV006"] == "3"  # '3 ' trimmed -> '3'
    assert r1["HV015"] == "1"
    r2 = rows["       2   902 "]
    assert r2["HV006"] == "12"
    assert r2["HV015"] == "9"


def test_surveyid_from_filename(spark, dat_dir, spec):
    rows = demux_dat(spark, dat_dir, spec)["RECH1"].select("surveyid").distinct().collect()
    assert [r["surveyid"] for r in rows] == ["511"]


def test_unknown_record_type_skipped(spark, dat_dir, spec):
    """A17: lines with unknown tags are dropped but countable."""
    unk = unknown_tags(spark, dat_dir, spec).collect()
    assert len(unk) == 1
    assert unk[0]["record_type"] == "XXX"
    assert unk[0]["n_lines"] == 1
    total = sum(df.count() for df in demux_dat(spark, dat_dir, spec).values())
    assert total == len(DAT_LINES) - 1


def test_demux_to_parquet_partitioned(spark, dat_dir, spec, tmp_path):
    out = demux_to_parquet(spark, dat_dir, spec, str(tmp_path / "tables"))
    rech1 = spark.read.parquet(out["RECH1"])
    assert rech1.count() == 3
    assert "surveyid=511" in str(
        [p for p in (tmp_path / "tables" / "RECH1").iterdir()]
    )
    # idempotent overwrite: writing again doesn't duplicate
    demux_to_parquet(spark, dat_dir, spec, str(tmp_path / "tables"))
    assert spark.read.parquet(out["RECH1"]).count() == 3


def test_demux_noop_sink_returns_no_phantom_paths(spark, dat_dir, spec, tmp_path):
    """r10 (ADVICE r9): the compute-only sink writes nothing, so the
    returned table map must not hand back parquet paths that were never
    written — every destination is the empty-string sentinel and the
    would-be directory does not exist."""
    out = demux_to_parquet(
        spark, dat_dir, spec, str(tmp_path / "tables"), sink_format="noop"
    )
    # record names still enumerated
    assert set(out) == {r.record_name for r in spec.records.values()}
    assert all(v == "" for v in out.values()), out
    assert not (tmp_path / "tables").exists()


def test_padded_key_joins(spark, dat_dir, spec):
    """FIXTURES.md: joins on untrimmed keys must work across tables."""
    tables = demux_dat(spark, dat_dir, spec)
    j = tables["RECH0"].join(tables["RECH1"], ["surveyid", "CASEID"], "inner")
    assert j.count() == 3
    # hvidx join RECH1 <-> RECH4A per the declared relation
    j2 = tables["RECH1"].join(
        tables["RECH4A"],
        (tables["RECH1"]["CASEID"] == tables["RECH4A"]["CASEID"])
        & (tables["RECH1"]["HVIDX"] == tables["RECH4A"]["IDXH4"]),
    )
    assert j2.count() == 1


def test_blank_fields_load_as_null_end_to_end(spark, tmp_path):
    """Pinned NULL rule (SURVEY §7 item 5, judge r2 item 8), through the
    full demux -> partitioned parquet -> read-back chain: a non-key field
    that is all spaces in the .DAT arrives as SQL NULL (the reference's
    COPY null='' rule, lib04:432-434), never as ''. Keys keep padding.
    The map-pack path is the deliberate inverse: NULL packs as ''
    (lib04:455 fillna)."""
    from dhs_to_database_spark.plans.schema_evolution import pack_wide_table

    d = tmp_path / "nulldat"
    d.mkdir()
    # RECH0 layout: CASEID @1 len15, tag @16 len3, HV006 @19 len2, HV015 @21 len1
    line_blank = "       9   903 " + "H00" + "  " + " "  # HV006+HV015 blank
    line_full = "       8   904 " + "H00" + " 7" + "2"
    (d / "512.TESTFC.DAT").write_text(line_blank + "\n" + line_full + "\n")
    spec = spec_from_items(parse_dcf_text("512.TESTFC", DCF_TEXT).items)
    out = demux_to_parquet(spark, str(d), spec, str(tmp_path / "warehouse"))
    back = spark.read.parquet(out["RECH0"])
    rows = {r["CASEID"]: r for r in back.collect()}
    blank = rows["       9   903 "]  # key padding intact
    assert blank["HV006"] is None and blank["HV015"] is None  # NULL, not ''
    full = rows["       8   904 "]
    assert (full["HV006"], full["HV015"]) == ("7", "2")

    packed = pack_wide_table(back, key_columns=["surveyid", "CASEID"])
    data = {r["CASEID"]: r["data"] for r in packed.collect()}
    assert data["       9   903 "]["HV006"] == ""  # NULL -> '' in the map
    assert data["       8   904 "]["HV006"] == "7"


def test_demux_packs_wide_record(spark, tmp_path):
    """r6: a record type crossing the reference's >500-column JSON-table
    threshold (lib04:140-152) is written PACKED by demux_to_parquet —
    key columns first-class, payload as one map<string,string> column
    with absent values as '' (the reference's fillna('') jsonb rule) —
    while a normal record stays fully columnar."""
    from pyspark.sql.types import MapType

    from dhs_to_database_spark.sources.fixed_width import (
        DatSpec,
        FieldSpec,
        RecordSpec,
    )

    n_wide = 501
    wide_fields = (FieldSpec("CASEID", 1, 15),) + tuple(
        FieldSpec(f"WP{i:03d}", 19 + i, 1) for i in range(n_wide)
    )
    narrow_fields = (
        FieldSpec("CASEID", 1, 15),
        FieldSpec("HV1", 19, 2),
    )
    spec = DatSpec(
        rt_start=16,
        rt_len=3,
        records={
            "W50": RecordSpec("WREC5", "W50", wide_fields),
            "N00": RecordSpec("NREC0", "N00", narrow_fields),
        },
    )
    caseid = f"{901:>4}{7:>11}"
    payload = "".join(str(i % 10) for i in range(n_wide - 1))  # last absent
    lines = [
        f"{caseid}W50{payload} ",  # trailing blank -> ''-valued map entry
        f"{caseid}N00 5",
    ]
    d = tmp_path / "dat"
    d.mkdir()
    (d / "901.W.dat").write_text("\n".join(lines) + "\n")
    out = demux_to_parquet(spark, str(d / "901.W.dat"), spec, str(tmp_path / "wh"))

    packed = spark.read.parquet(out["WREC5"])
    fields = {f.name: f.dataType for f in packed.schema.fields}
    assert isinstance(fields["data"], MapType), fields
    assert "CASEID" in fields and "surveyid" in fields
    row = packed.collect()[0]
    assert row["CASEID"] == caseid  # key untouched, padding intact
    assert len(row["data"]) == n_wide
    assert row["data"]["WP000"] == "0"
    assert row["data"][f"WP{n_wide - 1:03d}"] == ""  # absent -> '' not NULL

    narrow = spark.read.parquet(out["NREC0"])
    assert set(narrow.columns) == {"surveyid", "CASEID", "HV1"}


def test_pack_threshold_counts_payload_not_keys():
    """r7 (ADVICE r6): the >500-column pack decision counts PAYLOAD columns
    only — key columns stay first-class in the packed shape, so a record
    with exactly 500 payload fields plus 2 keys (502 total) must NOT pack,
    and packed_record_names exposes the decision demux_to_parquet makes."""
    from dhs_to_database_spark.sources.fixed_width import (
        DatSpec,
        FieldSpec,
        RecordSpec,
        packed_record_names,
    )

    def rec(name, tag, n_payload):
        fields = (
            FieldSpec("CASEID", 1, 15),
            FieldSpec("HHIDX", 16, 3),  # 'idx' key heuristic
        ) + tuple(FieldSpec(f"P{i:03d}", 22 + i, 1) for i in range(n_payload))
        return RecordSpec(name, tag, fields)

    spec = DatSpec(
        rt_start=19,
        rt_len=3,
        records={
            "B00": rec("BOUND", "B00", 500),  # 502 total, 500 payload
            "O00": rec("OVER", "O00", 501),  # crosses on payload alone
        },
    )
    assert packed_record_names(spec) == {"OVER"}


def test_packed_demux_matches_pack_wide_table(spark, tmp_path):
    """The packed shape ``demux_to_parquet`` builds straight from each
    line's field array equals ``pack_wide_table`` over the columnar demux:
    same columns in the same order, CASEID untrimmed, '' inside ``data``
    and NULL in a blank key column exactly where the columnar path puts
    them — including an item name that needs SQL quoting."""
    from dhs_to_database_spark.plans.schema_evolution import pack_wide_table
    from dhs_to_database_spark.sources.fixed_width import (
        DatSpec,
        FieldSpec,
        RecordSpec,
        packed_record_names,
        project_record,
        read_tagged_lines,
    )

    n_payload = 501
    odd_name = "WP'Q \\1"  # quote, space and backslash
    fields = (
        FieldSpec("CASEID", 1, 15),
        FieldSpec("WIDX01", 19, 2),  # 'idx' -> key column, stays first-class
        FieldSpec(odd_name, 21, 2),
    ) + tuple(FieldSpec(f"WP{i:03d}", 23 + i, 1) for i in range(n_payload - 1))
    spec = DatSpec(rt_start=16, rt_len=3, records={"W50": RecordSpec("WREC5", "W50", fields)})
    assert packed_record_names(spec) == {"WREC5"}

    caseid = f"{902:>4}{3:>11}"
    payload = "".join(str(i % 10) for i in range(n_payload - 1))
    blanks = "".join(" " if i % 7 == 0 else str(i % 10) for i in range(n_payload - 1))
    lines = [
        f"{caseid}W50 1 x{payload}",
        f"{caseid[:-1]}9W50  é {blanks}",  # blank key, non-ASCII, blank fields
        f"{caseid[:-1]}8W50 2",  # short line: the payload is past its end
    ]
    path = tmp_path / "902.W.dat"
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")

    columnar = demux_dat(spark, str(path), spec)["WREC5"]
    want_frame = pack_wide_table(columnar)
    tagged = read_tagged_lines(spark, str(path), spec)
    got_frame = project_record(tagged, spec.records["W50"], packed=True)
    assert got_frame.columns == want_frame.columns == ["surveyid", "CASEID", "WIDX01", "data"]

    out = demux_to_parquet(spark, str(path), spec, str(tmp_path / "wh"))
    got = spark.read.parquet(out["WREC5"])
    want_frame.write.partitionBy("surveyid").parquet(str(tmp_path / "want"))
    want = spark.read.parquet(str(tmp_path / "want"))
    assert got.columns == want.columns
    assert got.schema == want.schema

    def rows(df):
        return sorted(
            (r["surveyid"], r["CASEID"], r["WIDX01"], sorted(r["data"].items()))
            for r in df.collect()
        )

    assert rows(got) == rows(want)
    by_case = {r["CASEID"]: r for r in got.collect()}
    full, blank, short = (by_case[c] for c in (caseid, caseid[:-1] + "9", caseid[:-1] + "8"))
    assert full["WIDX01"] == "1" and full["data"][odd_name] == "x"
    assert full["data"]["WP000"] == "0"
    assert blank["WIDX01"] is None  # blank key: NULL, as the columnar path
    assert blank["data"][odd_name] == "é"
    assert blank["data"]["WP000"] == ""  # blank payload: '' inside data
    assert short["WIDX01"] == "2" and set(short["data"].values()) == {""}
    assert len(full["data"]) == n_payload
