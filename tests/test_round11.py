"""Round-11 regression tests: the RFC 8878 zstd codec (decoder for ROOT
kZSTD basket frames + the fixture-grade encoder that proves each decode
path in-image) and the bench CPU-adjudication gate.

Reference behavior cited from the public spec (RFC 8878 /
zstd_compression_format.md); the reference repo's stage-1 reads such
baskets via its ROOT stack (/root/reference/run_stage1.py:153-166)."""

from __future__ import annotations

import json
import os
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from copperhead_spark.sources import zstdcodec as z
from copperhead_spark.sources.zstdcodec import zstd_compress, zstd_decompress

# ---------------------------------------------------------------------------
# round-trip coverage of every decoder path
# ---------------------------------------------------------------------------

_CASES = {
    "empty": b"",
    "tiny": b"a",
    "rle": b"z" * 50_000,
    "text": b"the quick brown fox jumps over the lazy dog. " * 2000,
    "lowcard": bytes(random.Random(5).randrange(5) for _ in range(60_000)),
    "binaryish": b"".join(
        bytes([random.Random(i).randrange(256)]) * (1 + i % 23)
        for i in range(4000)
    ),
}

_MODES = [
    dict(),
    dict(use_sequences=False),          # literals-only compressed blocks
    dict(fse_sequences=True),           # FSE_Compressed_Mode LL/OF/ML
    dict(fse_weights=True),             # FSE-compressed Huffman weights
    dict(four_streams=True),            # 4-stream literals + jump table
    dict(four_streams=False),           # 1-stream literals
    dict(literals="raw"),               # raw literals + sequences
    dict(reuse_huffman=True),           # Treeless_Literals_Block
    dict(use_rep1=False),               # always-explicit offsets
    dict(block_size=4096),              # multi-block frames, cross-block
    dict(checksum=False),               # no Content_Checksum
    dict(fse_sequences=True, fse_weights=True, reuse_huffman=True,
         block_size=4096),
]


@pytest.mark.parametrize("name", sorted(_CASES))
def test_zstd_roundtrip_all_modes(name):
    data = _CASES[name]
    for kw in _MODES:
        assert zstd_decompress(zstd_compress(data, **kw)) == data, kw


@settings(max_examples=150, deadline=None)
@given(
    data=st.binary(max_size=6000),
    stretch=st.integers(min_value=1, max_value=40),
    mode=st.integers(min_value=0, max_value=len(_MODES) - 1),
)
def test_zstd_roundtrip_property(data, stretch, mode):
    payload = data * stretch
    assert zstd_decompress(zstd_compress(payload, **_MODES[mode])) == payload


def test_zstd_concatenated_and_skippable_frames():
    a, b = b"alpha" * 100, b"beta" * 77
    skip = (0x184D2A53).to_bytes(4, "little") + (5).to_bytes(4, "little") + b"XXXXX"
    blob = zstd_compress(a) + skip + zstd_compress(b)
    assert zstd_decompress(blob) == a + b


# ---------------------------------------------------------------------------
# malformed-input contract: ValueError, never IndexError/struct.error
# ---------------------------------------------------------------------------


def test_zstd_malformed_raises_valueerror_only():
    rng = random.Random(42)
    good = bytearray(zstd_compress(b"payload " * 500, fse_sequences=True))
    for trial in range(400):
        bad = bytearray(good)
        for _ in range(rng.randrange(1, 6)):
            bad[rng.randrange(len(bad))] = rng.randrange(256)
        try:
            zstd_decompress(bytes(bad))
        except ValueError:
            pass  # the contract
        # any other exception type fails the test by propagating


def test_zstd_truncation_raises_valueerror():
    frame = zstd_compress(b"some compressible text " * 200)
    for cut in range(0, len(frame), 7):
        with pytest.raises(ValueError):
            out = zstd_decompress(frame[:cut])
            assert out == b""  # unreachable; truncations must raise


def test_zstd_rejects_dictionary_and_bad_magic():
    with pytest.raises(ValueError, match="magic"):
        zstd_decompress(b"\x00\x00\x00\x00rest")
    # frame header with Dictionary_ID_flag=1 and a nonzero 1-byte ID
    frame = (
        z._MAGIC.to_bytes(4, "little")
        + bytes([(0 << 6) | (1 << 5) | 1, 7, 0])  # FHD, dict id 7, FCS 0
    )
    with pytest.raises(ValueError, match="dictionary"):
        zstd_decompress(frame)


def test_zstd_checksum_and_content_size_enforced():
    frame = bytearray(zstd_compress(b"check me " * 100, checksum=True))
    frame[-1] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        zstd_decompress(bytes(frame))


# ---------------------------------------------------------------------------
# repeat-offset rotations (§3.1.1.5) — decoder driven with explicit
# Offset_Values through the encoder's of_values override
# ---------------------------------------------------------------------------


def _run_rows(lits: bytes, rows: list[tuple[int, int, int]]) -> bytes:
    """Build one compressed block with verbatim (ll, of_value, ml) rows
    and decode it; returns the regenerated bytes."""
    seqs = [(ll, 1, ml) for ll, _ofv, ml in rows]  # offsets ignored
    sec = z._encode_sequences(
        seqs, [1, 4, 8], False, False, of_values=[r[1] for r in rows]
    )
    block = z._lit_header(0, len(lits), None, 0) + lits + sec
    ctx = z._FrameCtx()
    got_lits, used = z._decode_literals(block, ctx)
    seqs_dec, *_ = z._decode_sequences_section(block, used, ctx)
    out = bytearray()
    z._execute_sequences(seqs_dec, got_lits, out, ctx)
    return bytes(out)


def _model_rows(lits: bytes, rows: list[tuple[int, int, int]]) -> bytes:
    """Independent reimplementation of the §3.1.1.5 rotation rules."""
    out = bytearray()
    pos = 0
    reps = [1, 4, 8]
    for ll, v, ml in rows:
        out += lits[pos : pos + ll]
        pos += ll
        if v > 3:
            off = v - 3
            reps = [off, reps[0], reps[1]]
        elif (v - 1 if ll else v) == 0:
            off = reps[0]
        elif (v - 1 if ll else v) == 1:
            off = reps[1]
            reps = [off, reps[0], reps[2]]
        elif (v - 1 if ll else v) == 2:
            off = reps[2]
            reps = [off, reps[0], reps[1]]
        else:
            off = reps[0] - 1
            reps = [off, reps[0], reps[1]]
        for _ in range(ml):
            out.append(out[-off])
    return bytes(out + lits[pos:])


def test_zstd_repeat_offset_rotations():
    lits = bytes(range(32, 32 + 64))
    rows = [
        (10, 2 + 3, 5),   # explicit offset 2 -> reps [2,1,4]
        (4, 1, 3),        # ll!=0, v=1: rep1 (2), reps unchanged
        (3, 2, 4),        # ll!=0, v=2: rep2 (1), reps [1,2,4]
        (2, 3, 4),        # ll!=0, v=3: rep3 (4), reps [4,1,2]
        (0, 1, 3),        # ll==0, v=1: rep2 (1), reps [1,4,2]
        (0, 2, 3),        # ll==0, v=2: rep3 (2), reps [2,1,4]
        (0, 3, 3),        # ll==0, v=3: rep1-1 (1), reps [1,2,1]
        (5, 9 + 3, 6),    # explicit 9
        (0, 3, 4),        # ll==0, v=3 again after explicit: 9-1=8
    ]
    assert _run_rows(lits, rows) == _model_rows(lits, rows)


def test_zstd_rep1_minus_one_underflow_raises():
    lits = bytes(range(32, 48))
    # reps start [1,4,8]; ll==0, v=3 -> rep1-1 == 0 -> corruption
    with pytest.raises(ValueError, match="underflow"):
        _run_rows(lits, [(4, 1 + 3, 3), (0, 3, 3)])


# ---------------------------------------------------------------------------
# FSE / Huffman building blocks
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    nsym=st.integers(min_value=2, max_value=60),
    log=st.integers(min_value=5, max_value=9),
)
def test_fse_header_roundtrip_property(seed, nsym, log):
    rng = random.Random(seed)
    # sparse alphabet: interleaved zero-probability symbols exercise the
    # 2-bit zero-repeat flags on both sides
    syms = rng.sample(range(80), min(nsym, 1 << log))
    freqs = {s: rng.randrange(1, 1000) for s in syms}
    norm = z._normalize(freqs, log)
    blob = z._fse_write_header(norm, log)
    got, got_log = z._fse_read_header(z._FwdBits(blob), log, 256)
    assert got_log == log
    # parsed counts may carry trailing zeros; the table they build is
    # what matters
    assert got[: len(norm)] == norm
    assert all(c == 0 for c in got[len(norm) :])


def test_predefined_tables_structure():
    for dist, log, nmax in (
        (z._LL_DEFAULT, 6, 36),
        (z._ML_DEFAULT, 6, 53),
        (z._OF_DEFAULT, 5, 29),
    ):
        counts, alog = dist
        assert alog == log and len(counts) == nmax
        assert sum(c if c > 0 else 1 for c in counts) == 1 << log
        t = z._FseDecTable(counts, alog)  # must build cleanly
        assert len(t.symbol) == 1 << log


@settings(max_examples=150, deadline=None)
@given(data=st.binary(min_size=16, max_size=2000), fse=st.booleans())
def test_huffman_desc_roundtrip_property(data, fse):
    distinct = set(data)
    if len(distinct) < 2:
        return
    weights = z._huffman_weights_for(data)
    desc = z._write_huffman_desc(weights, fse)
    table, used = z._read_huffman_desc(desc)
    assert used == len(desc)
    want = z._HufTable(z._resolve_weights(weights[:-1]))
    assert table.symbol == want.symbol and table.nbits == want.nbits


# ---------------------------------------------------------------------------
# bench CPU-adjudication gate (r11 verdict task 1)
# ---------------------------------------------------------------------------


def _committed_queries():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH_LOCAL.json")) as fh:
        return json.load(fh)["queries"]


def test_cpu_adjudicate_accepts_floor_only_within_band():
    import bench

    committed = _committed_queries()
    timings = {k: v * 1.2 for k, v in committed.items()}
    adj = bench._cpu_adjudicate(True, 1.0, timings, {})
    assert adj is not None
    assert abs(adj["wall_vs_committed_median"] - 1.2) < 0.02
    assert adj["wall_vs_committed_worst"][1] >= adj["wall_vs_committed_median"]


def test_cpu_adjudicate_refuses_other_gates_and_regressions():
    import bench

    committed = _committed_queries()
    fine = {k: v * 1.1 for k, v in committed.items()}
    slow = {k: v * 2.0 for k, v in committed.items()}
    assert bench._cpu_adjudicate(False, 1.0, fine, {}) is None  # not floor-only
    assert bench._cpu_adjudicate(True, 3.0, fine, {}) is None  # steal burst
    assert bench._cpu_adjudicate(True, 1.0, slow, {}) is None  # wall band


# ---------------------------------------------------------------------------
# r11 e2e additions: MVA-through-the-chain + datacard emission
# ---------------------------------------------------------------------------


def test_mva_e2e_pinned_point_probes(spark, sf_dir):
    """Pinned probes for pipeline_root_to_mva_histogram_e2e: values
    derived once from the DuckDB oracle (fixture is sf-independent,
    _E2E_ROOT_N=20000).  A wrong fold mask, swapped weight, or a bin
    boundary flip moves these."""
    from copperhead_spark.plans.registry import all_queries

    q = all_queries()["pipeline_root_to_mva_histogram_e2e"]
    rows = {
        (r["region"], r["channel"], r["score_bin"]): r
        for r in q.builder(spark, sf_dir).collect()
    }
    probe = rows[("h-peak", "vbf", 9)]
    assert probe["n"] == 30
    assert abs(probe["wgt_sum"] - 25.748892) < 1e-9
    assert abs(probe["score_sum"] - (-16.820274)) < 1e-9
    probe2 = rows[("z-peak", "vbf", 9)]
    assert probe2["n"] == 26
    assert abs(probe2["wgt_sum"] - 22.938771) < 1e-9


def test_datacard_e2e_pinned_text(spark, sf_dir):
    """The emitted card TEXT is pinned (make_datacards.py:64-113 layout):
    signal-first ordering with index 0, %.4f rates, lnN row."""
    from copperhead_spark.finishing.templates import make_datacard
    from copperhead_spark.plans.registry import all_queries

    import pandas as pd

    q = all_queries()["pipeline_root_to_datacard_e2e"]
    got = {r["process"]: r for r in q.builder(spark, sf_dir).collect()}
    assert got["vbf"]["proc_idx"] == 0
    assert got["ggh_2orMoreJets"]["proc_idx"] == 1  # first present background
    assert abs(got["vbf"]["rate"] - 36.215255) < 1e-9
    assert abs(got["vbf"]["muid_lnn"] - 1.0201000931789657) < 1e-12

    yields = pd.DataFrame(
        {"group": ["ggh_2orMoreJets", "vbf"], "yield": [2.51671, 36.215255]}
    )
    card = make_datacard(
        yields, signal_groups=("vbf",),
        lnN={"muid": {"ggh_2orMoreJets": 1.020, "vbf": 1.020}},
    )
    lines = card.splitlines()
    assert "imax 1 number of channels" in lines
    assert "process      vbf ggh_2orMoreJets" in lines
    assert "process      0 1" in lines
    assert "rate         36.2153 2.5167" in lines
    assert any(ln.startswith("muid") and "lnN 1.020 1.020" in ln for ln in lines)


# ---------------------------------------------------------------------------
# r11: CSTreeIndex retired — tree metadata is a real TTree object record
# ---------------------------------------------------------------------------


def test_write_tree_emits_real_ttree_record_not_cstreeindex(tmp_path):
    import numpy as np

    from copperhead_spark.sources import rootio
    from copperhead_spark.sources.treeobj import parse_tree_record

    p = str(tmp_path / "t.root")
    counts = np.array([2, 0, 3, 1] * 50, dtype=np.int32)
    vals = np.arange(counts.sum(), dtype=np.float64)
    rootio.write_tree(
        p, "Events",
        {"n": counts, "ev": np.arange(200, dtype=np.int64)},
        {"j": ("n", vals)},
        basket_entries=64, compress=505,
    )
    buf = rootio._open_buf(p)
    classes = [k.classname for k in rootio._walk_keys(buf)]
    assert "CSTreeIndex" not in classes
    assert "TTree" in classes
    # the record parses as a real TTree object with basket tables
    k = next(k for k in rootio._walk_keys(buf) if k.classname == "TTree")
    info = parse_tree_record(bytes(rootio._payload(buf, k)))
    assert info["entries"] == 200
    b = {x["name"]: x for x in info["branches"]}
    assert b["j"]["counts"] == "n" and b["j"]["letter"] == "D"
    assert b["ev"]["basket_entry"] == [0, 64, 128, 192, 200]
    assert len(b["ev"]["basket_seek"]) == 4
    # the reader consumes the TTree record (seek-table path, no key walk)
    meta = rootio._tree_meta(buf, "Events")
    assert set(meta.tables) == {"n", "ev", "j"}
    for name, (ent, seek) in meta.tables.items():
        assert ent == [0, 64, 128, 192, 200]
        assert seek == b[name]["basket_seek"]
        for sk in seek:
            k = rootio._read_key(buf, sk)
            assert (k.classname, k.name, k.title) == ("TBasket", name, "Events")
    out = rootio.read_tree(p, "Events", ["j"], entry_start=65, entry_stop=130)
    c, v = out["j"]
    assert np.array_equal(c, counts[65:130])
    lo = counts[:65].sum()
    assert np.array_equal(v, vals[lo : lo + c.sum()])


def test_zstd_root_file_and_seek_pruning(tmp_path):
    """kZSTD (fCompress 505) baskets decode through the scan path, and a
    pruned read of a TTree-record file never touches (pages in) the
    payload of out-of-range baskets — asserted by corrupting them."""
    import numpy as np

    from copperhead_spark.sources import rootio

    p = str(tmp_path / "z.root")
    a = np.arange(1000, dtype=np.float64)
    rootio.write_tree(p, "Events", {"x": a}, basket_entries=100, compress=505)
    # corrupt every basket payload OUTSIDE entries [300, 500): a correct
    # seek-table reader decodes only baskets 3 and 4
    buf = rootio._open_buf(p)
    meta = rootio._tree_meta(buf, "Events")
    ent, seek = meta.tables["x"]
    raw = bytearray(open(p, "rb").read())
    for i, sk in enumerate(seek):
        if ent[i + 1] <= 300 or ent[i] >= 500:
            k = rootio._read_key(buf, sk)
            for off in range(k.data_pos, k.data_pos + k.datalen):
                raw[off] ^= 0xFF
    open(p, "wb").write(bytes(raw))
    out = rootio.read_tree(p, "Events", ["x"], entry_start=300, entry_stop=500)
    assert np.array_equal(out["x"], a[300:500])
