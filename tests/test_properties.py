"""Property-based tests (hypothesis) for the reference's core invariants
(SURVEY.md §5): fixed-width demux round-trip with the no-strip key rule, and
DCF value-range expansion strategies."""

from __future__ import annotations

import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dhs_to_database_spark.sources.cspro_dcf import parse_dcf_text
from dhs_to_database_spark.sources.fixed_width import (
    DatSpec,
    FieldSpec,
    RecordSpec,
    demux_dat,
    project_record,
    read_tagged_lines,
)

# ---------------------------------------------------------------------------
# Fixed-width round-trip: render random rows into .DAT lines, demux with
# Spark, and every field must come back exactly — stripped for normal
# fields, padding-preserved for CASEID/HHID.
# ---------------------------------------------------------------------------

_VAL_CHARS = string.ascii_uppercase + string.digits + " "


@st.composite
def dat_case(draw):
    n_records = draw(st.integers(1, 3))
    tags = draw(
        st.lists(
            st.text(string.ascii_uppercase + string.digits, min_size=3, max_size=3),
            min_size=n_records,
            max_size=n_records,
            unique=True,
        )
    )
    records = {}
    rows = []
    for ri, tag in enumerate(tags):
        n_fields = draw(st.integers(1, 4))
        widths = draw(st.lists(st.integers(1, 6), min_size=n_fields, max_size=n_fields))
        names = [f"F{ri}_{i}" for i in range(n_fields)]
        if draw(st.booleans()):
            names[0] = "CASEID"  # exercise the no-strip key rule
        start = 4  # tag occupies cols 1-3
        fields = []
        for name, w in zip(names, widths):
            fields.append(FieldSpec(name, start, w))
            start += w
        records[tag] = RecordSpec(f"REC{ri}", tag, tuple(fields))
        for _ in range(draw(st.integers(0, 3))):
            vals = [
                draw(st.text(_VAL_CHARS, min_size=0, max_size=f.length))
                for f in fields
            ]
            rows.append((tag, vals))
    return DatSpec(rt_start=1, rt_len=3, records=records), rows


@given(dat_case())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fixed_width_roundtrip(spark, tmp_path_factory, case):
    spec, rows = case
    path = tmp_path_factory.mktemp("dat") / "777.PROP.DAT"
    lines = []
    for tag, vals in rows:
        line = tag
        for f, v in zip(spec.records[tag].fields, vals):
            line += v.ljust(f.length)
        lines.append(line)
    path.write_text("\n".join(lines) + ("\n" if lines else ""))

    out = demux_dat(spark, str(path), spec)
    by_rec: dict[str, list] = {}
    for tag, vals in rows:
        by_rec.setdefault(spec.records[tag].record_name, []).append((tag, vals))
    for tag, rec in spec.records.items():
        got = [r.asDict() for r in out[rec.record_name].collect()]
        want_rows = by_rec.get(rec.record_name, [])
        assert len(got) == len(want_rows)
        # constant column count (reference invariant DAT_Parser.py:107-110)
        for g in got:
            assert set(g) == {"surveyid", *[f.name for f in rec.fields]}
            assert g["surveyid"] == "777"
        # pinned NULL rule: non-key fields that trim to '' load as NULL
        # (reference COPY null='', lib04:432-434); keys keep padding
        nullsafe = lambda t: tuple((x is None, x or "") for x in t)  # noqa: E731
        want = sorted(
            (
                tuple(
                    v.ljust(f.length)
                    if f.name in ("CASEID", "HHID")
                    else (v.ljust(f.length).strip() or None)
                    for f, v in zip(rec.fields, vals)
                )
                for _, vals in want_rows
            ),
            key=nullsafe,
        )
        got_sorted = sorted(
            (tuple(g[f.name] for f in rec.fields) for g in got), key=nullsafe
        )
        assert got_sorted == want


# ---------------------------------------------------------------------------
# Multi-byte round-trip: ASCII and non-ASCII lines mixed in one file. The
# demux slices ASCII-only lines by byte offset and the rest by character, so
# both kinds must come back as Python ``str`` slices of the line, in the
# columnar shape and in the packed (key columns + ``data`` map) shape.
# ---------------------------------------------------------------------------

#: 1-byte, 2-byte (é ñ), 3-byte (€ 中) and 4-byte (😀 𝄞) UTF-8 characters
_MB_CHARS = _VAL_CHARS + "éñ€中😀𝄞"


@st.composite
def multibyte_case(draw):
    n_fields = draw(st.integers(2, 6))
    widths = draw(st.lists(st.integers(1, 5), min_size=n_fields, max_size=n_fields))
    names = [f"F{i}" for i in range(n_fields)]
    names[0] = draw(st.sampled_from(["CASEID", "F0"]))
    if n_fields > 2 and draw(st.booleans()):
        names[1] = "HHIDX"  # a key column in the packed shape
    start, fields = 4, []
    for name, w in zip(names, widths):
        fields.append(FieldSpec(name, start, w))
        start += w
    spec = DatSpec(rt_start=1, rt_len=3, records={"R00": RecordSpec("REC", "R00", tuple(fields))})
    lines = []
    # line 0 is ASCII-only and line 1 carries a multi-byte character, so
    # every file mixes both kinds of line
    for i in range(draw(st.integers(2, 6))):
        vals = [
            draw(st.text(_VAL_CHARS if i == 0 or k < 2 else _MB_CHARS, max_size=f.length))
            for k, f in enumerate(fields)
        ]
        if i == 1:  # the last field is never a key
            vals[-1] = draw(st.sampled_from("éñ€中😀𝄞")) + vals[-1][1:]
        line = "R00" + "".join(v.ljust(f.length) for f, v in zip(fields, vals))
        if draw(st.booleans()):
            line = line.rstrip()  # short line: trailing fields past its end
        lines.append(line)
    return spec, lines


@given(multibyte_case())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fixed_width_multibyte_matches_str_slicing(spark, tmp_path_factory, case):
    from dhs_to_database_spark.plans.schema_evolution import is_key_column

    spec, lines = case
    rec = spec.records["R00"]
    assert any(line.isascii() for line in lines)
    assert not all(line.isascii() for line in lines)
    path = tmp_path_factory.mktemp("dat") / "778.PROP.DAT"
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")

    def cut(line, f):
        raw = line[f.start - 1 : f.start - 1 + f.length]
        return raw if f.name in ("CASEID", "HHID") else (raw.strip() or None)

    def key(row):
        return tuple((v is None, str(v)) for v in row)

    columnar = demux_dat(spark, str(path), spec)["REC"]
    want = sorted((tuple(cut(ln, f) for f in rec.fields) for ln in lines), key=key)
    got = sorted((tuple(r[f.name] for f in rec.fields) for r in columnar.collect()), key=key)
    assert got == want

    keys = [f for f in rec.fields if is_key_column(f.name)]
    payload = [f for f in rec.fields if not is_key_column(f.name)]
    packed = project_record(read_tagged_lines(spark, str(path), spec), rec, packed=True)
    assert packed.columns == ["surveyid", *(f.name for f in keys), "data"]
    want = sorted(
        (
            tuple(cut(ln, f) for f in keys)
            + (sorted((f.name, cut(ln, f) or "") for f in payload),)
            for ln in lines
        ),
        key=key,
    )
    got = sorted(
        (
            tuple(r[f.name] for f in keys) + (sorted(r["data"].items()),)
            for r in packed.collect()
        ),
        key=key,
    )
    assert got == want


# ---------------------------------------------------------------------------
# DCF range expansion: for Value=a:b, "All" yields one ExpandedRange row per
# value iff the range fits the cap, else RangeMin/RangeMax endpoint rows;
# "None" always yields endpoints.
# ---------------------------------------------------------------------------

_DCF_TEMPLATE = """\
[Dictionary]
Version=CSPro 7.0
Label=Prop test
Name=PROPDICT
RecordTypeStart=1
RecordTypeLen=3
ZeroFill=Yes

[Level]
Label=L
Name=LEV

[Record]
Label=R
Name=REC0
RecordTypeValue='R00'

[Item]
Label=Value under test
Name=VPROP
Start=4
Len=9

[ValueSet]
Label=Value under test
Name=VPROP_VS
Value={a}:{b}
"""


@given(
    a=st.integers(-50, 50),
    span=st.integers(1, 60),
    limit=st.integers(2, 40),
)
@settings(max_examples=50, deadline=None)
def test_dcf_range_expansion(a, span, limit):
    b = a + span
    res = parse_dcf_text(
        "PROP", _DCF_TEMPLATE.format(a=a, b=b), expand_ranges="All", range_expansion_limit=limit
    )
    vrows = [v for v in res.values if v["Name"] == "VPROP"]
    size = b - a + 1
    if size <= limit:
        assert [v["Value"] for v in vrows] == [str(x) for x in range(a, b + 1)]
        assert {v["ValueType"] for v in vrows} == {"ExpandedRange"}
    else:
        assert [(v["Value"], v["ValueType"]) for v in vrows] == [
            (str(float(a)), "RangeMin"),
            (str(float(b)), "RangeMax"),
        ]

    res_none = parse_dcf_text(
        "PROP", _DCF_TEMPLATE.format(a=a, b=b), expand_ranges="None", range_expansion_limit=limit
    )
    vrows_none = [v for v in res_none.values if v["Name"] == "VPROP"]
    assert [(v["Value"], v["ValueType"]) for v in vrows_none] == [
        (str(float(a)), "RangeMin"),
        (str(float(b)), "RangeMax"),
    ]


# ---------------------------------------------------------------------------
# Connected components: both tiers (driver union-find / distributed
# large-small-star) must match a reference DFS labelling on arbitrary
# random graphs — chains, cliques, stars, singleton-free soups.
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_dfs(spark, edges):
    from dhs_to_database_spark.operators.clustering import connected_components

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    if not adj:
        return  # all self-loops: empty result on both paths, nothing to rank
    expect = {}
    seen: set[int] = set()
    for start in sorted(adj):
        if start in seen:
            continue
        stack, comp = [start], []
        seen.add(start)
        while stack:
            n = stack.pop()
            comp.append(n)
            for m in adj[n]:
                if m not in seen:
                    seen.add(m)
                    stack.append(m)
        root = min(comp)
        for n in comp:
            expect[n] = root

    df = spark.createDataFrame(list(edges), "src bigint, dst bigint")
    for thresh in (10**6, 0):  # driver tier, then distributed tier
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, driver_threshold=thresh).collect()
        }
        assert got == expect, thresh


# ---------------------------------------------------------------------------
# BPE encode == sequential training replay (r12): the bpe_encode_calibration
# oracle reads per-word token counts off the replayed training state
# (v{N} in _bpe_cal_ctes), while the Spark side runs bpe_encode_word's
# best-rank-first loop. The two are equal because an exhausted pair can
# never be re-created by later merges (new adjacencies always involve the
# just-created symbol, whose pairs carry higher ranks) — this property
# test pins that equivalence over adversarially small alphabets, where
# pair collisions and re-merge opportunities are densest.
# ---------------------------------------------------------------------------


@given(
    st.dictionaries(
        st.text("abc", min_size=1, max_size=6),
        st.integers(1, 5),
        min_size=1,
        max_size=8,
    ),
    st.integers(1, 10),
)
@settings(max_examples=80, deadline=None)
def test_bpe_encode_matches_sequential_training_replay(word_counts, n_merges):
    from dhs_to_database_spark.operators.bpe import (
        _EOW,
        _bpe_train_driver_scored,
        _merge_pair,
        bpe_encode_word,
    )

    rows = sorted(word_counts.items())
    merges = [(a, b) for a, b, _ in _bpe_train_driver_scored(rows, n_merges)]
    ranks = {m: i for i, m in enumerate(merges)}
    for w, _ in rows:
        syms = list(w) + [_EOW]
        for a, b in merges:
            syms = _merge_pair(syms, a, b)
        assert bpe_encode_word(w, ranks) == syms, (w, merges)
