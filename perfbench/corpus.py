"""Seeded CSPro corpus generator for the ``survey_etl`` workload.

Writes survey download zips (one ``<surveyid>.<filecode>.zip`` per survey,
holding a ``.DCF`` dictionary and a fixed-width ``.DAT`` file) and, while it
writes them, computes what a correct load must contain:

- rows per (record, survey), after the demux's unknown-tag drop;
- planted unknown-tag line counts per (survey, tag);
- the RECH1-RECH4A cross-level join: row count and a CRC32 checksum that
  Spark recomputes with ``crc32(concat_ws('|', ...))``;
- the packed record's shape (payload keys per row);
- which surveys lack the v2-only column, so it must read back NULL.

Three dictionary layouts:

- ``hh``: the household layout of the repository's CSPro fixtures
  (RECH0 'H00', RECH1 'H01', RECH4A 'H4A', HH_MEMBERS relation);
- ``hh2``: the same plus one RECH1 item (HV270) — a second schema
  version, so the warehouse read needs the union of columns;
- ``wide``: WREC0 'W00' (22 seven-char items, a 172-char line) and
  WREC5 'W50' (520 one-char items), which the loader writes map-packed.

The generator is self-contained: it depends on nothing in the engine, the
tests or the tools, and the same seed gives byte-identical files.
"""

from __future__ import annotations

import os
import random
import zipfile
import zlib
from dataclasses import dataclass, field

RT_START, RT_LEN = 16, 3
UNKNOWN_TAGS = ("XXX", "H99")
#: non-ASCII characters planted in non-key fields (2- and 3-byte UTF-8)
NON_ASCII = ("é", "ñ", "ü", "ç", "€", "ș")
NON_ASCII_RATE = 0.03  # per line that can carry one
UNKNOWN_RATE = 0.02  # per household
W0_ITEMS = 22
W5_ITEMS = 520
V2_COLUMN = "HV270"

def _dcf(name: str, records: list[tuple[str, str, list[tuple[str, int, int]]]],
         relations: list[tuple[str, str, str, str, str]] = ()) -> str:
    """CSPro dictionary text: records as (name, tag, [(item, start, len)])
    and relations as (name, primary, primary_link, secondary, secondary_link)."""
    out = [
        "[Dictionary]", "Version=CSPro 7.0", f"Label={name} dictionary",
        f"Name={name}", f"RecordTypeStart={RT_START}", f"RecordTypeLen={RT_LEN}",
        "Positions=Relative", "ZeroFill=Yes", "DecimalChar=No", "",
        "[Languages]", "EN=English", "",
        "[Level]", "Label=Household", "Name=HOUSEHOLD", "",
        "[IdItems]", "",
        "[Item]", "Label=Case Identification", "Name=CASEID", "Start=1", "Len=15",
    ]
    for rec_name, tag, items in records:
        out += ["", "[Record]", f"Label={rec_name} record", f"Name={rec_name}",
                f"RecordTypeValue='{tag}'"]
        for item, start, length in items:
            out += ["", "[Item]", f"Label={item} item", f"Name={item}",
                    f"Start={start}", f"Len={length}"]
    for rel, prim, plink, sec, slink in relations:
        out += ["", "[Relation]", f"Name={rel}", f"Primary={prim}",
                f"PrimaryLink={plink}", f"Secondary={sec}", f"SecondaryLink={slink}"]
    return "\n".join(out) + "\n"


_HH_RECORDS = [
    ("RECH0", "H00", [("HV006", 19, 2), ("HV015", 21, 1)]),
    ("RECH1", "H01", [("HVIDX", 19, 2), ("HV105", 21, 3), ("HV438", 24, 7)]),
    ("RECH4A", "H4A", [("IDXH4", 19, 2), ("SH110A", 21, 1)]),
]
_HH_RELATIONS = [("HH_MEMBERS", "RECH1", "HVIDX", "RECH4A", "IDXH4")]
_HH2_RECORDS = [
    (n, t, items + [(V2_COLUMN, 31, 1)] if n == "RECH1" else items)
    for n, t, items in _HH_RECORDS
]
_WIDE_RECORDS = [
    ("WREC0", "W00", [(f"WV{i:03d}", 19 + 7 * i, 7) for i in range(W0_ITEMS)]),
    ("WREC5", "W50", [(f"WP{i:03d}", 19 + i, 1) for i in range(W5_ITEMS)]),
]

LAYOUTS = {
    "hh": ("DHSHH", _dcf("DHSHH", _HH_RECORDS, _HH_RELATIONS)),
    "hh2": ("DHSHH2", _dcf("DHSHH2", _HH2_RECORDS, _HH_RELATIONS)),
    "wide": ("DHSWIDE", _dcf("DHSWIDE", _WIDE_RECORDS)),
}

@dataclass
class Expected:
    """What a correct load of a set of surveys contains."""

    rows: dict[tuple[str, str], int] = field(default_factory=dict)  # (record, surveyid)
    unknown: dict[tuple[str, str], int] = field(default_factory=dict)  # (surveyid, tag)
    join_rows: int = 0
    join_crc: int = 0
    packed_rows: int = 0
    v1_rech1_rows: int = 0  # RECH1 rows whose survey lacks HV270
    dat_bytes: int = 0
    dat_lines: int = 0
    wide_lines: int = 0
    non_ascii_lines: int = 0

    def add(self, other: Expected) -> None:
        for k, v in other.rows.items():
            self.rows[k] = self.rows.get(k, 0) + v
        for k, v in other.unknown.items():
            self.unknown[k] = self.unknown.get(k, 0) + v
        for name in ("join_rows", "join_crc", "packed_rows", "v1_rech1_rows",
                     "dat_bytes", "dat_lines", "wide_lines", "non_ascii_lines"):
            setattr(self, name, getattr(self, name) + getattr(other, name))


def _blank_or(rng: random.Random, text: str, p_blank: float = 0.05) -> str:
    return "" if rng.random() < p_blank else text


def _field(text: str, width: int) -> str:
    """Right-aligned fixed-width field (characters, not bytes)."""
    return text.rjust(width)[:width]


def _loaded(text: str) -> str | None:
    """The demux's NULL rule: a non-key field that trims to '' is NULL."""
    t = text.strip()
    return t or None


def _non_ascii(rng: random.Random, width: int) -> str:
    """A field value holding one 2- or 3-byte UTF-8 character."""
    return rng.choice(NON_ASCII) + "".join(rng.choices("0123456789", k=width - 1))


def survey_dat(layout: str, surveyid: str, households: int, seed: int) -> tuple[str, Expected]:
    """One survey's .DAT text and its expectations. Deterministic in its
    arguments: the RNG is seeded from (seed, surveyid, layout)."""
    rng = random.Random(f"{seed}:{surveyid}:{layout}")
    exp = Expected()
    lines: list[str] = []
    rows: dict[str, int] = {}

    def emit(line: str, record: str | None, non_ascii: bool = False) -> None:
        lines.append(line)
        exp.non_ascii_lines += non_ascii
        if record is not None:
            rows[record] = rows.get(record, 0) + 1

    for hh in range(households):
        caseid = f"{hh // 40 + 1:8d}{hh % 40 + 1:6d} "
        if layout in ("hh", "hh2"):
            emit(f"{caseid}H00{_field(str(rng.randint(1, 12)), 2)}{rng.choice('129')}", "RECH0")
            for m in range(1, rng.randint(1, 8) + 1):
                idx = _field(str(m), 2)
                age = _field(str(rng.randint(0, 95)), 3)
                weight = _field(_blank_or(rng, str(rng.randint(20, 1500) * 100)), 7)
                line = f"{caseid}H01{idx}{age}{weight}"
                if layout == "hh2":
                    line += rng.choice("12345 ")
                else:
                    exp.v1_rech1_rows += 1
                emit(line, "RECH1")
                if rng.random() < 0.6:
                    na = rng.random() < NON_ASCII_RATE
                    extra = _non_ascii(rng, 1) if na else rng.choice("123456789 ")
                    emit(f"{caseid}H4A{idx}{extra}", "RECH4A", na)
                    vals = (surveyid, caseid, _loaded(idx), _loaded(age), _loaded(extra))
                    exp.join_rows += 1
                    exp.join_crc += zlib.crc32(
                        "|".join(v for v in vals if v is not None).encode("utf-8"))
        else:
            w0 = [_field(_blank_or(rng, str(rng.randint(0, 999999))), 7) for _ in range(W0_ITEMS)]
            na0 = rng.random() < NON_ASCII_RATE
            if na0:
                w0[rng.randrange(W0_ITEMS)] = _non_ascii(rng, 7)
            emit(f"{caseid}W00{''.join(w0)}", "WREC0", na0)
            w5 = rng.choices("0123456789 ", k=W5_ITEMS)
            na5 = rng.random() < NON_ASCII_RATE
            if na5:
                w5[rng.randrange(W5_ITEMS)] = _non_ascii(rng, 1)
            emit(f"{caseid}W50{''.join(w5)}", "WREC5", na5)
            exp.wide_lines += 2
            exp.packed_rows += 1
        if rng.random() < UNKNOWN_RATE:
            tag = rng.choice(UNKNOWN_TAGS)
            emit(f"{caseid}{tag}junk", None)
            exp.unknown[(surveyid, tag)] = exp.unknown.get((surveyid, tag), 0) + 1
    for record, n in rows.items():
        exp.rows[(record, surveyid)] = n
    text = "\n".join(lines) + "\n"
    exp.dat_bytes = len(text.encode("utf-8"))
    exp.dat_lines = len(lines)
    return text, exp


def write_survey_zip(folder: str, layout: str, surveyid: str, households: int,
                     seed: int) -> Expected:
    """Write ``<surveyid>.<filecode>.zip`` into ``folder``; returns its
    expectations. Fixed zip timestamps keep the bytes seed-determined."""
    filecode, dcf_text = LAYOUTS[layout]
    dat_text, exp = survey_dat(layout, surveyid, households, seed)
    path = os.path.join(folder, f"{surveyid}.{filecode}.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        for name, payload in ((f"{filecode}.DCF", dcf_text), (f"{filecode}.DAT", dat_text)):
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, payload.encode("utf-8"), compresslevel=1)
    return exp


@dataclass(frozen=True)
class CorpusPlan:
    """Which surveys the bulk load and the refresh carry."""

    bulk: tuple[tuple[str, str, int], ...]  # (layout, surveyid, households)
    new: tuple[str, str, int]
    rereleased: tuple[str, str, int]  # one of ``bulk``, written again


def plan(seed: int, hh_households: int, wide_households: int,
         surveys: dict[str, int]) -> CorpusPlan:
    """Survey ids and sizes from the seed: ids are distinct 3-digit numbers,
    sizes vary by up to +-10% around the layout's household count."""
    rng = random.Random(f"plan:{seed}")
    total = sum(surveys.values()) + 1
    ids = [str(i) for i in rng.sample(range(100, 1000), total)]
    bulk = []
    for layout, n in surveys.items():
        base = wide_households if layout == "wide" else hh_households
        for _ in range(n):
            bulk.append((layout, ids.pop(), int(base * rng.uniform(0.9, 1.1))))
    new = ("hh2", ids.pop(), int(hh_households * rng.uniform(0.9, 1.1)))
    rereleased = next(s for s in bulk if s[0] == "hh")
    return CorpusPlan(tuple(bulk), new, rereleased)


def write_corpus(root: str, corpus: CorpusPlan, seed: int) -> tuple[Expected, Expected]:
    """Write the bulk-load zips under ``root/bulk`` and the refresh zips
    under ``root/refresh``. Returns (bulk expectations, expectations after
    the refresh). The re-released survey's zip is byte-identical to its
    bulk-load zip."""
    bulk_dir, refresh_dir = os.path.join(root, "bulk"), os.path.join(root, "refresh")
    os.makedirs(bulk_dir, exist_ok=True)
    os.makedirs(refresh_dir, exist_ok=True)
    bulk = Expected()
    for layout, sid, n in corpus.bulk:
        bulk.add(write_survey_zip(bulk_dir, layout, sid, n, seed))
    after = Expected()
    after.add(bulk)
    layout, sid, n = corpus.new
    after.add(write_survey_zip(refresh_dir, layout, sid, n, seed))
    layout, sid, n = corpus.rereleased
    write_survey_zip(refresh_dir, layout, sid, n, seed)
    return bulk, after
