"""Download staging: zip extraction, manifest parsing, reconciliation —
SURVEY.md §2.A A1-A4, A18, A31.

Reference behavior (lib02_Unzip_And_Organise_Downloads.py):
- A1 ``unzip_and_sort`` (:8-30): extract zip members flat, prefix
  ``<surveyid>.`` onto each filename, skip members already extracted
  (A18 idempotency).
- A2 ``parse_download_spec`` (:33-46): the DHS download manager writes one
  URL per line; the query string carries Filename/Ctry_Code/surv_id.
- A3 ``organise_batch_downloaded`` (:49-76): case-insensitive ``*.zip``
  listing, then both anti-joins — files on disk missing from the manifest,
  and manifest entries never downloaded.
- A31 encoding-fallback read (04 nb raw :440-444): retry cp1252 on
  UnicodeDecodeError.

Spark split: zip extraction is driver/worker *file prep* (not a dataframe
op — at scale it runs inside ``binaryFile``-sourced tasks or an external
unpack step); manifest parsing and reconciliation are real DataFrame jobs
(str_to_map over the query string; left-anti joins).
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# A1 + A18 — zip extract with surveyid prefix, idempotent per member.
# ---------------------------------------------------------------------------


def stage_zip(zip_path: str, survey_num: str, out_folder: str) -> list[str]:
    """Extract a survey zip flat into ``out_folder/<survey_num>/``, naming
    each member ``<survey_num>.<basename>``; members whose target already
    exists are skipped (idempotent re-runs). Returns all target paths."""
    if ".zip" not in zip_path.lower():
        raise ValueError(f"not a zip file: {zip_path!r}")
    out_dir = Path(out_folder) / survey_num
    out_dir.mkdir(parents=True, exist_ok=True)
    staged: list[str] = []
    with zipfile.ZipFile(zip_path) as zf:
        for member in zf.namelist():
            if member.endswith("/"):
                continue
            target = out_dir / f"{survey_num}.{member.split('/')[-1]}"
            if not target.exists():
                with zf.open(member) as src, open(target, "wb") as dst:
                    dst.write(src.read())
            staged.append(str(target))
    return staged


# ---------------------------------------------------------------------------
# A2 — download-manifest parse (one URL per line, query-string params).
# ---------------------------------------------------------------------------


def parse_download_manifest(spark: SparkSession, path: str) -> DataFrame:
    """URL lines -> (filename, country, surveyid); filename uppercased (the
    manifest and the filesystem disagree on case)."""
    lines = spark.read.text(path)
    params = F.expr("str_to_map(split(value, '\\\\?')[1], '&', '=')")
    return (
        lines.select(params.alias("p"))
        .select(
            F.upper(F.col("p")["Filename"]).alias("filename"),
            F.upper(F.col("p")["Ctry_Code"]).alias("country"),
            F.col("p")["surv_id"].alias("surveyid"),
        )
        .filter(F.col("filename").isNotNull())
    )


# ---------------------------------------------------------------------------
# A3 — case-insensitive zip listing + both-direction reconciliation.
# ---------------------------------------------------------------------------


def _zip_names(folder: str) -> list[str]:
    """Names of the ``*.zip`` files in ``folder`` (case-insensitive)."""
    return [
        f for f in os.listdir(folder)
        if os.path.isfile(os.path.join(folder, f)) and f.lower().endswith(".zip")
    ]


def list_zips(spark: SparkSession, folder: str) -> DataFrame:
    """All ``*.zip`` files in ``folder`` (case-insensitive), one row each."""
    names = _zip_names(folder)
    if not names:
        return spark.createDataFrame([], "filename string, path string")
    return spark.createDataFrame(
        [(n.upper(), os.path.join(folder, n)) for n in names], "filename string, path string"
    )


def reconcile_downloads(
    manifest: DataFrame, on_disk: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(manifest entries never downloaded, files on disk with no manifest
    entry) — the reference's two skip-with-warning lists (lib02:66-75)."""
    not_downloaded = manifest.join(on_disk, "filename", "left_anti")
    unknown_files = on_disk.join(manifest, "filename", "left_anti")
    return not_downloaded, unknown_files


def stage_batch(
    spark: SparkSession, manifest_path: str, downloads_folder: str, staging_folder: str
) -> list[str]:
    """Batch mode: stage every on-disk zip the manifest knows, keyed to its
    manifest surveyid (EP1 in SURVEY.md §3)."""
    manifest = parse_download_manifest(spark, manifest_path)
    disk = list_zips(spark, downloads_folder)
    known = {r["filename"]: r["surveyid"] for r in manifest.collect()}
    staged: list[str] = []
    for row in disk.collect():
        sid = known.get(row["filename"])
        if sid is None:
            continue  # unknown file; surfaced by reconcile_downloads
        staged.extend(stage_zip(row["path"], sid, os.path.join(staging_folder, "downloaded")))
    return staged


def stage_manual(spark: SparkSession, downloads_folder: str, staging_folder: str) -> list[str]:
    """Manual mode: surveyid is the filename's first dot-component
    (lib02:79-92). The listing is driver-side, so no Spark job runs."""
    staged: list[str] = []
    for name in _zip_names(downloads_folder):
        sid = name.split(".")[0]
        staged.extend(stage_zip(os.path.join(downloads_folder, name), sid,
                                os.path.join(staging_folder, "downloaded")))
    return staged


# ---------------------------------------------------------------------------
# A31 — encoding-fallback read.
# ---------------------------------------------------------------------------


def _letterish_score(decoded: str) -> float:
    """chardet-lite plausibility: among non-ASCII decoded chars, the
    fraction that are letters/marks. Mojibake through the wrong single-byte
    map lands on C1 controls, stray symbols, and box-drawing chars;
    genuine text's accented chars are letters."""
    import unicodedata

    hi = [c for c in decoded if ord(c) > 0x7F]
    if not hi:
        return 1.0
    letters = sum(1 for c in hi if unicodedata.category(c)[0] in ("L", "M"))
    return letters / len(hi)


def sniff_encoding(
    path: str,
    encodings: tuple[str, ...] = ("utf-8", "cp1252", "iso-8859-2"),
    probe_bytes: int = 1 << 20,
) -> str:
    """Detect a file's encoding from a bounded prefix (the reference runs
    chardet's UniversalDetector over the whole file, DCF_Parser.py:34-42; at
    scale we sniff on the driver and let executors decode).

    Detection order:
    1. BOM: utf-8-sig / utf-16 / utf-32 are unambiguous.
    2. NUL-byte layout: BOM-less UTF-16 text shows ~half its bytes as 0x00
       on one parity; no single-byte encoding does.
    3. Strict-decode the candidates; when several single-byte maps accept
       the bytes (they all do — every byte is "valid" cp1252 and latin-2),
       rank by ``_letterish_score`` and break ties in candidate order.
    """
    with open(path, "rb") as f:
        head = f.read(probe_bytes)
    truncated = len(head) == probe_bytes
    if head.startswith(b"\xef\xbb\xbf"):
        return "utf-8-sig"
    if head.startswith(b"\xff\xfe\x00\x00"):
        return "utf-32-le"
    if head.startswith(b"\x00\x00\xfe\xff"):
        return "utf-32-be"
    # endianness-precise names even when BOM'd: the CSV reader needs the
    # LE/BE charset so its encoded lineSep carries no BOM (the parser
    # strips the leading BOM char itself)
    if head.startswith(b"\xff\xfe"):
        return "utf-16-le"
    if head.startswith(b"\xfe\xff"):
        return "utf-16-be"
    if len(head) >= 16:
        even = head[::2].count(0) / max(len(head[::2]), 1)
        odd = head[1::2].count(0) / max(len(head[1::2]), 1)
        if odd > 0.3 and even < 0.05:
            return "utf-16-le"
        if even > 0.3 and odd < 0.05:
            return "utf-16-be"
    viable: list[tuple[str, str]] = []
    for enc in encodings:
        try:
            viable.append((enc, head.decode(enc)))
        except UnicodeDecodeError as e:
            # a multi-byte char straddling the probe boundary is not a
            # decode failure — accept the encoding rather than mojibake
            # the whole file through a laxer fallback
            if truncated and e.start >= len(head) - 4:
                return enc
            continue
    if not viable:
        return encodings[-1]  # single-byte maps accept every byte
    best_enc, best_score = viable[0][0], _letterish_score(viable[0][1])
    for enc, decoded in viable[1:]:
        s = _letterish_score(decoded)
        if s > best_score + 1e-9:  # strict: ties keep candidate order
            best_enc, best_score = enc, s
    return best_enc


#: python codec name -> JVM charset name for the sniff results that differ
_JVM_CHARSETS = {
    "utf-8-sig": "UTF-8",  # the CSV parser strips the BOM itself
    "utf-16-le": "UTF-16LE",
    "utf-16-be": "UTF-16BE",
    "utf-32-le": "UTF-32LE",
    "utf-32-be": "UTF-32BE",
}


def read_csv_with_fallback(spark: SparkSession, path: str, **options) -> DataFrame:
    enc = sniff_encoding(path)
    jvm_enc = _JVM_CHARSETS.get(enc, enc)
    if enc.startswith(("utf-16", "utf-32")):
        # Hadoop's line splitter works on raw 0x0A bytes; a wide charset
        # needs the charset-encoded separator (LE/BE names keep it BOM-free)
        options.setdefault("lineSep", "\n")
    elif enc not in ("utf-8", "utf-8-sig", "us-ascii", "iso-8859-1"):
        # Spark 4 whitelists charsets; cp1252/latin-2 need the legacy
        # JVM-charset behavior (set on the live session — the driver's
        # won't have it)
        spark.conf.set("spark.sql.legacy.javaCharsets", "true")
    return spark.read.options(encoding=jvm_enc, **options).csv(path)
