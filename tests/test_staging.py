"""Tests for download staging (A1-A3, A18, A31)."""

from __future__ import annotations

import zipfile

from dhs_to_database_spark.sources.staging import (
    list_zips,
    parse_download_manifest,
    read_csv_with_fallback,
    reconcile_downloads,
    sniff_encoding,
    stage_batch,
    stage_manual,
    stage_zip,
)

_URL = (
    "https://dhsprogram.com/data/dataset_admin/download-datasets.cfm"
    "?Filename={fn}&Tp=1&Ctry_Code={cc}&surv_id={sid}&dm=1&dmode=nm"
)


def _make_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, content in members.items():
            zf.writestr(name, content)


def test_stage_zip_prefixes_flattens_and_skips(tmp_path):
    zp = tmp_path / "ZZIR71DT.ZIP"
    _make_zip(zp, {"ZZIR71.DCF": "dcf-bytes", "sub/ZZIR71.DAT": "dat-bytes"})
    out = stage_zip(str(zp), "511", str(tmp_path / "staged"))
    names = sorted(p.split("/")[-1] for p in out)
    assert names == ["511.ZZIR71.DAT", "511.ZZIR71.DCF"]  # flat + prefixed
    # idempotent: second run skips extraction but returns the same paths
    (tmp_path / "staged" / "511" / "511.ZZIR71.DCF").write_text("EDITED")
    out2 = stage_zip(str(zp), "511", str(tmp_path / "staged"))
    assert sorted(out2) == sorted(out)
    assert (tmp_path / "staged" / "511" / "511.ZZIR71.DCF").read_text() == "EDITED"


def test_manifest_parse_and_reconcile(spark, tmp_path):
    manifest = tmp_path / "urls.txt"
    manifest.write_text(
        _URL.format(fn="zzir71dt.zip", cc="zz", sid="511")
        + "\n"
        + _URL.format(fn="ZZMR71DT.ZIP", cc="ZZ", sid="511")
        + "\n"
        + _URL.format(fn="AABR20DT.ZIP", cc="AA", sid="42")
        + "\n"
    )
    m = parse_download_manifest(spark, str(manifest))
    rows = {r["filename"]: (r["country"], r["surveyid"]) for r in m.collect()}
    assert rows == {
        "ZZIR71DT.ZIP": ("ZZ", "511"),
        "ZZMR71DT.ZIP": ("ZZ", "511"),
        "AABR20DT.ZIP": ("AA", "42"),
    }

    _make_zip(tmp_path / "zzir71dt.zip", {"ZZIR71.DCF": "x"})  # lowercase on disk
    _make_zip(tmp_path / "EXTRA.ZIP", {"E.DCF": "x"})  # not in manifest
    disk = list_zips(spark, str(tmp_path))
    missing, unknown = reconcile_downloads(m, disk)
    assert {r["filename"] for r in missing.collect()} == {"ZZMR71DT.ZIP", "AABR20DT.ZIP"}
    assert {r["filename"] for r in unknown.collect()} == {"EXTRA.ZIP"}

    staged = stage_batch(spark, str(manifest), str(tmp_path), str(tmp_path / "stg"))
    assert [p.split("/")[-1] for p in staged] == ["511.ZZIR71.DCF"]


def test_stage_manual_runs_no_spark_job(spark, tmp_path):
    """Manual mode takes the surveyid from each zip's first dot-component
    and stages from the driver-side listing alone: no Spark job runs."""
    downloads = tmp_path / "dl"
    downloads.mkdir()
    _make_zip(downloads / "511.ZZIR71DT.ZIP", {"ZZIR71.DCF": "x"})
    _make_zip(downloads / "42.aabr20dt.zip", {"AABR20.DAT": "y"})  # lowercase
    (downloads / "notes.txt").write_text("not a zip")
    tracker = spark.sparkContext.statusTracker()
    group = "stage-manual-test"
    spark.sparkContext.setJobGroup(group, group)
    try:
        staged = stage_manual(spark, str(downloads), str(tmp_path / "stg"))
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert list(tracker.getJobIdsForGroup(group)) == []
    assert sorted("/".join(p.split("/")[-2:]) for p in staged) == [
        "42/42.AABR20.DAT",
        "511/511.ZZIR71.DCF",
    ]


def test_encoding_fallback(spark, tmp_path):
    p = tmp_path / "latin.csv"
    p.write_bytes("name,city\nJos\xe9,Montr\xe9al\n".encode("cp1252"))
    assert sniff_encoding(str(p)) == "cp1252"
    df = read_csv_with_fallback(spark, str(p), header=True)
    assert df.collect()[0]["city"] == "Montréal"

    u = tmp_path / "utf8.csv"
    u.write_text("name,city\nJosé,Montréal\n", encoding="utf-8")
    assert sniff_encoding(str(u)) == "utf-8"


def test_sniff_utf16_bom_and_bomless(spark, tmp_path):
    """UTF-16 files — BOM'd or not — must be detected and parse through
    the CSV fallback reader."""
    b = tmp_path / "bom.csv"
    b.write_bytes("name,city\nJosé,Montréal\n".encode("utf-16"))  # BOM'd
    assert sniff_encoding(str(b)) == "utf-16-le"  # BOM pins the endianness
    df = read_csv_with_fallback(spark, str(b), header=True)
    assert df.collect()[0]["city"] == "Montréal"

    le = tmp_path / "bomless.csv"
    le.write_bytes("name,city\nJosé,Montréal\n".encode("utf-16-le"))
    assert sniff_encoding(str(le)) == "utf-16-le"
    be = tmp_path / "bomless_be.csv"
    be.write_bytes("name,city\nJosé,Montréal\n".encode("utf-16-be"))
    assert sniff_encoding(str(be)) == "utf-16-be"
    sig = tmp_path / "sig.csv"
    sig.write_bytes("name,city\nJosé,Montréal\n".encode("utf-8-sig"))
    assert sniff_encoding(str(sig)) == "utf-8-sig"


def test_sniff_latin2_vs_cp1252(spark, tmp_path):
    """Polish latin-2 text decodes byte-for-byte under cp1252 too — the
    letterish score must pick the map whose high bytes come out as
    letters, not symbols."""
    pl = tmp_path / "latin2.csv"
    text = "name,city\nStanisław Lem,Łódź\nZażółć gęślą jaźń,Kraków\n"
    pl.write_bytes(text.encode("iso-8859-2"))
    assert sniff_encoding(str(pl)) == "iso-8859-2"
    df = read_csv_with_fallback(spark, str(pl), header=True)
    assert df.collect()[0]["city"] == "Łódź"

    # cp1252 text with curly quotes (0x93/0x94 = C1 controls in latin-2)
    fr = tmp_path / "cp1252.csv"
    fr.write_bytes(b"name,note\nJos\xe9,\x93bonjour\x94\n")
    assert sniff_encoding(str(fr)) == "cp1252"


def test_sniff_tolerates_truncated_multibyte_at_probe_boundary(tmp_path):
    p = tmp_path / "big_utf8.txt"
    # valid utf-8 whose probe-sized prefix ends mid-character
    body = ("é" * 600).encode("utf-8")  # 1200 bytes of 2-byte chars
    p.write_bytes(body)
    assert sniff_encoding(str(p), probe_bytes=101) == "utf-8"  # odd cut = half a char
