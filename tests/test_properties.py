"""Property-based tests (hypothesis) for the determinism-critical kernels.

The oracle-parity suite pins fixed datasets; these properties check the
*invariants* the engine's correctness story rests on: fixed-point sums
are partitioning-independent, the shared SQL formulas behave across
their whole domain, hash-uniforms are reproducible."""

import math

import duckdb
import numpy as np
import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from copperhead_spark.functions.physics import delta_phi_sql
from copperhead_spark.operators.dedup import minhash_signature
from copperhead_spark.operators.rochester import hash_uniform_sql

_money = st.decimals(
    min_value=-1_000_000, max_value=1_000_000, places=2, allow_nan=False, allow_infinity=False
)


@settings(max_examples=8, deadline=None)
@given(st.lists(_money, min_size=1, max_size=300), st.integers(1, 16))
def test_exact_sum_partitioning_independent(spark_prop, values, nparts):
    """sum is bit-identical no matter how rows are partitioned."""
    from pyspark.sql import functions as F

    from copperhead_spark.functions.exact import exact_sum

    floats = [float(v) for v in values]
    df = spark_prop.createDataFrame([(v,) for v in floats], "x double").repartition(nparts)
    got = df.agg(exact_sum(F.col("x")).alias("s")).collect()[0]["s"]
    expected = sum(int(round(v * 100)) for v in floats) / 100.0
    assert got == expected  # bitwise


@settings(max_examples=200, deadline=None)
@given(
    st.floats(-50, 50, allow_nan=False),
    st.floats(-50, 50, allow_nan=False),
    st.integers(-3, 3),
)
def test_delta_phi_wrap_domain_and_periodicity(p1, p2, k):
    """The shared delta-phi formula lands in [-pi, pi] and is 2pi-periodic
    (checked through DuckDB — same text Spark evaluates)."""
    con = duckdb.connect()
    a = f"CAST({p1!r} AS DOUBLE)"
    b = f"CAST({p2!r} AS DOUBLE)"
    shifted = f"({a} + CAST({2 * math.pi * k!r} AS DOUBLE))"
    d1 = con.execute(f"SELECT {delta_phi_sql(a, b)}").fetchone()[0]
    d2 = con.execute(f"SELECT {delta_phi_sql(shifted, b)}").fetchone()[0]
    assert -math.pi - 1e-9 <= d1 <= math.pi + 1e-9
    assert abs(d1 - d2) < 1e-6 or abs(abs(d1 - d2) - 2 * math.pi) < 1e-6


@settings(max_examples=100, deadline=None)
@given(st.integers(0, 10**12), st.integers(0, 10**6))
def test_hash_uniform_range_and_determinism(event, idx):
    con = duckdb.connect()
    sql = f"SELECT {hash_uniform_sql(str(event), str(idx))}"
    u1 = con.execute(sql).fetchone()[0]
    u2 = con.execute(sql).fetchone()[0]
    assert 0.0 <= u1 < 1.0
    assert u1 == u2


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet="abcdefgh ", min_size=5, max_size=200))
def test_minhash_identity_and_permutation_bound(text):
    """Identical texts -> identical signatures; any text's signature
    values stay under the modulus."""
    s1 = minhash_signature(text)
    s2 = minhash_signature(text)
    assert s1 == s2
    assert all(0 <= v < 2147483647 for v in s1)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.floats(-100, 100, allow_nan=False), min_size=2, max_size=8, unique=True),
    st.floats(-150, 150, allow_nan=False),
)
def test_interp_formula_matches_numpy(xs, x):
    from copperhead_spark.operators.lookup import interp1d_sql

    xs = sorted(xs)
    ys = [float(np.sin(v)) for v in xs]  # arbitrary node values
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {interp1d_sql(f'CAST({x!r} AS DOUBLE)', xs, ys)}"
    ).fetchone()[0]
    expected = float(np.interp(x, xs, ys))
    assert got == pytest.approx(expected, rel=1e-9, abs=1e-9)


@pytest.fixture(scope="module")
def spark_prop(spark):
    return spark


def _token_hash_ref(w: str) -> int:
    h = 0
    for ch in w:
        h = (h * 31 + ord(ch)) % 1_000_003
    return h


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_characters="\x00"
            ),
            max_size=30,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_token_hashes_np_matches_reference(texts):
    """The vectorized char-position kernel must equal the per-token
    polynomial for arbitrary docs: empty docs, doubled spaces, leading/
    trailing spaces, non-ASCII."""
    from copperhead_spark.operators.sketch_kernels import token_hashes_np

    got = token_hashes_np(texts).tolist()
    want = [
        _token_hash_ref(w)
        for w in " ".join(texts).split(" ")
    ]
    assert got == want


# ---------------------------------------------------------------------------
# sessionization + pagerank vs pure-Python references
# ---------------------------------------------------------------------------

_GAP_US_PROP = 12 * 3600 * 1_000_000


def _sessions_ref(rows):
    """rows: (user_id, event_id, us). Returns {(user, session_id): n}."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, e, us in rows:
        by_user[u].append((us, e))
    out = {}
    for u, evs in by_user.items():
        evs.sort()
        sid = 0
        prev = None
        for us, _ in evs:
            if prev is None or us - prev > _GAP_US_PROP:
                sid += 1
            out[(u, sid)] = out.get((u, sid), 0) + 1
            prev = us
    return out


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 60)),  # (user, hour offset)
        min_size=1,
        max_size=60,
        unique=True,
    ),
    st.integers(1, 8),
)
def test_sessionize_matches_pure_python(spark_prop, user_hours, nparts):
    """Session assignment is invariant under partitioning and matches a
    sequential fold (distinct hours per user avoid tie-order ambiguity)."""
    import os
    import shutil
    import tempfile

    import pandas as pd

    from copperhead_spark.plans.registry import all_queries

    rows = []
    seen = set()
    for i, (u, h) in enumerate(user_hours):
        if (u, h) in seen:
            continue
        seen.add((u, h))
        rows.append((u, i, h * 3600 * 1_000_000))
    pdf = pd.DataFrame(
        {
            "event_id": [e for _, e, _ in rows],
            "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(microseconds=us) for _, _, us in rows],
            "user_id": [u for u, _, _ in rows],
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
    )
    d = tempfile.mkdtemp(prefix="sess_prop_")
    try:
        pdf.to_parquet(os.path.join(d, "events.parquet"))
        out = all_queries()["sessionize_events"].builder(spark_prop, d).toPandas()
        got = {
            (int(r["user_id"]), int(r["session_id"])): int(r["n_events"])
            for _, r in out.iterrows()
        }
        base = pd.Timestamp("2024-01-01").value // 1000
        ref = _sessions_ref([(u, e, base + us) for u, e, us in rows])
        assert got == ref
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _pagerank_ref(edges, iters=2):
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    ranks = {n: 1_000_000 for n in deg}
    for _ in range(iters):
        incoming = defaultdict(int)
        for s, t in edges:
            incoming[t] += ranks[s] // deg[s]
        ranks = {n: 150_000 + (85 * v) // 100 for n, v in incoming.items()}
    return ranks


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_pagerank_matches_pure_python(spark_prop, raw_edges):
    """Fixed-point PageRank on arbitrary symmetrized graphs is bit-equal
    to the sequential integer reference."""
    from pyspark.sql import functions as F

    from copperhead_spark.plans.graph import pagerank_iterations

    sym = sorted({(s, t) for s, t in raw_edges} | {(t, s) for s, t in raw_edges})
    edf = spark_prop.createDataFrame(sym, "src long, dst long")
    deg = edf.groupBy("src").agg(F.count("*").alias("deg"))
    ed = edf.join(deg, "src")
    got = {
        int(r["node"]): int(r["rank_e6"])
        for r in pagerank_iterations(ed, deg, 2).collect()
    }
    assert got == _pagerank_ref(sym, 2)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(1, 200), min_size=0, max_size=40, unique=True))
def test_substring_coverage_fold_matches_interval_union(positions):
    """The span-union fold (dedup coverage) equals a literal interval
    union over [p, p+N) windows — checked through DuckDB, whose fold is
    the same arithmetic the Spark expression runs."""
    from copperhead_spark.plans.dedup import _SSD_N, _ssd_cov_duck

    ps = sorted(positions)
    # reference: union of [p, p+N) intervals
    covered = set()
    for p in ps:
        covered.update(range(p, p + _SSD_N))
    arr = "CAST([" + ", ".join(map(str, ps)) + "] AS BIGINT[])"
    got = duckdb.sql(f"SELECT {_ssd_cov_duck(arr)} AS c").fetchone()[0]
    assert got == len(covered)


@settings(max_examples=100, deadline=None)
@given(st.integers(0, 1023), st.integers(0, 1023))
def test_morton_key_bits_roundtrip(a, b):
    """Every bit of both inputs is recoverable from the Morton key (the
    interleave is a bijection), via the same SQL text Spark executes."""
    from copperhead_spark.plans.sources import _Z_BITS, zorder_key_sql

    z = duckdb.sql(
        f"SELECT {zorder_key_sql(str(a), str(b), _Z_BITS).replace(' div ', ' // ')} AS z"
    ).fetchone()[0]
    ra = sum((((z >> (2 * j)) & 1) << j) for j in range(_Z_BITS))
    rb = sum((((z >> (2 * j + 1)) & 1) << j) for j in range(_Z_BITS))
    assert (ra, rb) == (a, b)


@settings(max_examples=60, deadline=None)
@given(
    st.text(alphabet="ab ", min_size=0, max_size=30),
    st.sampled_from([("a", "b"), ("a", "a"), ("b", "a")]),
)
def test_bpe_merge_fold_matches_greedy_python(text, pair):
    """The merge fold implements greedy left-to-right non-overlapping BPE
    merging exactly (DuckDB evaluates the same fold text as Spark)."""
    from copperhead_spark.plans.linkage import _bpe_merge_duck

    left, right = pair

    def greedy(tok):
        out = []
        for ch in tok:
            if out and out[-1] == left and ch == right:
                out[-1] = left + right
            else:
                out.append(ch)
        return out

    for tok in text.split(" "):
        chars = "CAST([" + ", ".join(f"'{c}'" for c in tok) + "] AS VARCHAR[])"
        got = duckdb.sql(
            f"SELECT {_bpe_merge_duck(chars, repr(left), repr(right))} AS m"
        ).fetchone()[0]
        assert got == greedy(tok), (tok, got)


# --- round-3 additions -----------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.integers(0, 2**32 - 1), st.lists(st.integers(0, 31), min_size=0, max_size=3))
def test_phash_banding_lossless_at_hamming_3(h1, flips):
    """pigeonhole: two 32-bit hashes within hamming distance 3 share at
    least one of the 4 byte-bands — the mm_phash_dedup banded join
    misses nothing at its threshold."""
    h2 = h1
    for b in set(flips):
        h2 ^= 1 << b
    bands1 = [(h1 >> (8 * j)) & 255 for j in range(4)]
    bands2 = [(h2 >> (8 * j)) & 255 for j in range(4)]
    assert any(x == y for x, y in zip(bands1, bands2))


def _bpe_apply_py(word: str, merges) -> list[str]:
    """Pure-python greedy left-to-right merge fold (the trainer/encoder
    contract: apply each merge rank in order, one pass each)."""
    syms = list(word)
    for left, right in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
            else:
                out.append(s)
        syms = out
    return syms


@settings(max_examples=8, deadline=None)
@given(st.text(alphabet="theinanderson ", min_size=1, max_size=60))
def test_bpe_encode_fold_matches_pure_python(spark_prop, text):
    from copperhead_spark.plans.tokenize import _MERGES, _encode_word_spark

    words = [w for w in text.split(" ") if w]
    expect = [_bpe_apply_py(w, _MERGES) for w in words]
    got = (
        spark_prop.sql(
            f"SELECT transform(filter(split({chr(39)}{text}{chr(39)}, ' '),"
            f" w -> w <> ''), w -> {_encode_word_spark('w')}) AS enc"
        ).first()["enc"]
    )
    assert [list(t) for t in got] == expect


def test_perceptron_trajectory_partition_independent(spark_prop, sf_dir):
    """The integer update sum is associative: re-partitioning the corpus
    must not change any epoch's weights (the auditability claim in
    plans/mltrain.py)."""
    from copperhead_spark.plans.registry import _REGISTRY
    import copperhead_spark.plans.mltrain  # noqa: F401

    sf = sf_dir
    base = _REGISTRY["ml_perceptron_train"].builder(spark_prop, sf).collect()
    prev = spark_prop.conf.get("spark.sql.shuffle.partitions")
    spark_prop.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        odd = _REGISTRY["ml_perceptron_train"].builder(spark_prop, sf).collect()
    finally:
        spark_prop.conf.set("spark.sql.shuffle.partitions", prev)
    assert sorted(map(tuple, base)) == sorted(map(tuple, odd))


# ---------------------------------------------------------------------------
# round 7: codec parsers (WAV/RIFF, netpbm frame streams) — pure-python
# properties, no Spark session needed
# ---------------------------------------------------------------------------


@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=200),
    st.sampled_from([8000, 16000, 44100, 48000]),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_property_16bit(samples, rate):
    import numpy as np

    from copperhead_spark.operators.multimodal import wav_encode, wav_samples

    smp, r, nch, bits = wav_samples(
        wav_encode(np.array(samples, dtype=np.int64), sample_rate=rate, bits=16)
    )
    assert (r, nch, bits) == (rate, 1, 16)
    assert list(smp) == samples


@given(st.lists(st.integers(min_value=0, max_value=255), min_size=0, max_size=120))
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_property_8bit(samples):
    import numpy as np

    from copperhead_spark.operators.multimodal import wav_encode, wav_samples

    smp, r, nch, bits = wav_samples(
        wav_encode(np.array(samples, dtype=np.int64), bits=8)
    )
    assert bits == 8
    assert list(smp) == samples


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),  # w
            st.integers(min_value=1, max_value=4),  # h
            st.booleans(),  # P6 (rgb) vs P5
        ),
        min_size=0,
        max_size=8,
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None)
def test_split_frames_property(shapes, rng):
    """Concatenating arbitrary valid P5/P6 frames and splitting recovers
    exactly the input slices, for any frame sizes and channel mixes."""
    from copperhead_spark.operators.multimodal import ppm_pixels, split_frames

    frames = []
    for w, h, rgb in shapes:
        ch = 3 if rgb else 1
        magic = b"P6" if rgb else b"P5"
        raster = bytes(rng.randrange(256) for _ in range(w * h * ch))
        frames.append(magic + f"\n{w} {h}\n255\n".encode() + raster)
    got = split_frames(b"".join(frames))
    assert got == frames
    for f, (w, h, rgb) in zip(got, shapes):
        px = ppm_pixels(f)
        assert px.shape == ((h, w, 3) if rgb else (h, w))


@given(st.binary(min_size=1, max_size=64))
@settings(max_examples=100, deadline=None)
def test_wav_parser_never_hangs_on_garbage(payload):
    """Arbitrary bytes either parse or raise ValueError — never loop,
    never return corrupt state (the bounded-scan hardening rule)."""
    from copperhead_spark.operators.multimodal import wav_samples

    try:
        wav_samples(payload)
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# rootio (pure-python ROOT reader/writer, sources/rootio.py) — the S1/S8
# codec pair, property-tested like the WAV/netpbm parsers above.
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["f8", "f4", "i8", "i4"]),
            st.integers(min_value=0, max_value=300),
        ),
        min_size=1,
        max_size=4,
        unique_by=lambda t: t,  # distinct (dtype, salt) -> distinct branches
    ),
    st.integers(min_value=0, max_value=500),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=40, deadline=None)
def test_rootio_flat_tree_roundtrip_property(branch_specs, n, basket):
    import numpy as np

    from copperhead_spark.sources.rootio import (
        list_trees,
        read_tree,
        write_tree,
    )

    rng = np.random.RandomState(n * 7 + basket)
    cols = {}
    for i, (dt, _salt) in enumerate(branch_specs):
        if dt.startswith("f"):
            cols[f"b{i}_{dt}"] = rng.uniform(-1e6, 1e6, n).astype(dt)
        else:
            cols[f"b{i}_{dt}"] = rng.randint(-(2**30), 2**30, n).astype(dt)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t.root"
        write_tree(path, "Events", cols, basket_entries=basket)
        assert list_trees(path) == [("Events", n)]
        back = read_tree(path)
        for k, v in cols.items():
            assert back[k].dtype.kind == v.dtype.kind
            assert np.array_equal(back[k], v), k
        # arbitrary entry window slices exactly, across basket boundaries
        lo = n // 3
        hi = min(n, lo + max(1, basket + 1))
        first = next(iter(cols))
        win = read_tree(path, "Events", [first], lo, hi)
        assert np.array_equal(win[first], cols[first][lo:hi])


@given(
    st.integers(min_value=0, max_value=200),
    st.integers(min_value=1, max_value=50),
    # bare zlib levels, ROOT-style kZLIB (1xx), kLZMA/XZ (2xx) and
    # kLZ4/L4 (4xx, r10) specs
    st.sampled_from([0, 1, 3, 6, 9, 101, 106, 109, 201, 205, 209,
                     401, 404, 406, 409]),
    st.sampled_from(["f8", "f4", "i8", "i4", "bool"]),
)
@settings(max_examples=40, deadline=None)
def test_rootio_jagged_compressed_roundtrip_property(n, basket, level, dt):
    """Jagged (counts + payload) branches round-trip bit-exactly through
    the v2 index + compression frames — ZL/deflate for kZLIB specs, XZ
    lzma for kLZMA specs — and every entry window slices both the counts
    and the value stream exactly, including windows that split baskets
    (r9: the compressed-roundtrip property the VERDICT task asked
    for)."""
    import tempfile

    import numpy as np

    from copperhead_spark.sources.rootio import read_tree, write_tree

    rng = np.random.RandomState(n * 31 + basket + level)
    counts = rng.randint(0, 6, n).astype(np.int32)
    nv = int(counts.sum())
    if dt == "bool":
        vals = rng.uniform(size=nv) < 0.5
    elif dt.startswith("f"):
        vals = rng.uniform(-1e6, 1e6, nv).astype(dt)
    else:
        vals = rng.randint(-(2**30), 2**30, nv).astype(dt)
    flat = {"nX": counts, "scalar": rng.uniform(-1, 1, n)}
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/j.root"
        write_tree(
            path, "T", flat, {"X_v": ("nX", vals)},
            basket_entries=basket, compress=level,
        )
        back = read_tree(path)
        c, v = back["X_v"]
        assert np.array_equal(c, counts) and np.array_equal(v, vals)
        assert np.array_equal(back["scalar"], flat["scalar"])
        lo = n // 3
        hi = min(n, lo + basket + 1)
        win = read_tree(path, "T", ["X_v"], lo, hi)
        c, v = win["X_v"]
        assert np.array_equal(c, counts[lo:hi])
        off = int(counts[:lo].sum())
        assert np.array_equal(v, vals[off : off + int(counts[lo:hi].sum())])


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=100, deadline=None)
def test_rootio_reader_never_hangs_on_garbage(payload):
    """Arbitrary bytes either parse or raise ValueError/KeyError — the
    sequential key walk is strictly advancing, so garbage can never loop
    (the bounded-scan hardening rule the WAV parser follows).  r9: every
    record parser validates payload lengths before unpacking, so
    struct.error no longer escapes the module's documented contract."""
    import tempfile

    from copperhead_spark.sources.rootio import read_tree, read_th1f

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/g.root"
        with open(path, "wb") as fh:
            fh.write(payload)
        for fn in (read_tree, read_th1f):
            try:
                fn(path)
            except (ValueError, KeyError):
                pass


@given(st.binary(min_size=0, max_size=300), st.integers(0, 3))
@settings(max_examples=60, deadline=None)
def test_rootio_reader_rejects_corrupted_valid_files(payload, mode):
    """A VALID file with bytes spliced over its records (headers kept
    plausible) also stays inside the ValueError/KeyError contract —
    this is the case the garbage test can't reach, because random bytes
    rarely pass the magic + key-walk gates."""
    import tempfile

    import numpy as np

    from copperhead_spark.sources.rootio import read_th1f, read_tree, write_tree

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/c.root"
        counts = np.array([2, 0, 3, 1], dtype=np.int32)
        write_tree(
            path, "T",
            {"n": counts, "a": np.arange(4, dtype=np.float64)},
            {"x": ("n", np.arange(6, dtype=np.float64))},
            basket_entries=2,
            compress=6 if mode % 2 else 0,
        )
        with open(path, "rb") as fh:
            base = bytearray(fh.read())
        # splice the fuzz payload into the record region (past the
        # 100-byte header so the magic survives)
        off = 100 + (mode * 37) % max(1, len(base) - 120)
        base[off : off + len(payload)] = payload[: len(base) - off]
        with open(path, "wb") as fh:
            fh.write(base)
        for fn in (lambda p: read_tree(p), read_th1f):
            try:
                fn(path)
            except (ValueError, KeyError):
                pass


@given(
    st.integers(min_value=1, max_value=40),
    st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
             min_size=0, max_size=42),
)
@settings(max_examples=40, deadline=None)
def test_rootio_th1f_roundtrip_property(nbins, values):
    import numpy as np

    from copperhead_spark.sources.rootio import read_th1f, write_th1f

    contents = np.zeros(nbins + 2)
    for i, v in enumerate(values[: nbins + 2]):
        contents[i] = v
    sumw2 = np.abs(contents) * 0.5
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/h.root"
        write_th1f(path, [dict(name="h", title="t", nbins=nbins,
                               xlo=-2.5, xhi=7.5, contents=contents,
                               sumw2=sumw2)])
        h = read_th1f(path)["h"]
        assert (h["nbins"], h["xlo"], h["xhi"], h["title"]) == (nbins, -2.5, 7.5, "t")
        # contents go through the real TArrayF float32 quantization
        assert np.array_equal(h["contents"], contents.astype(np.float32).astype(np.float64))
        # Sumw2 is a TArrayD: bit-exact
        assert np.array_equal(h["sumw2"], sumw2)


def test_rootio_xz_frames_and_unsupported_codecs():
    """kLZMA files carry real XZ frames (visible in the raw bytes) that
    round-trip bit-exactly; an XZ body mislabeled as L4 (r10: L4 now
    decodes) fails its checksum instead of mis-decoding; mislabeled as
    ZS (r11: ZS now decodes via zstdcodec) it fails the zstd magic check
    — in every case ValueError, never a mis-decode."""
    import tempfile

    import numpy as np

    from copperhead_spark.sources import rootio

    rng = np.random.RandomState(7)
    vals = np.repeat(rng.uniform(-1, 1, 50), 40)  # compressible
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/x.root"
        rootio.write_tree(
            path, "T", {"a": vals}, basket_entries=512, compress=206
        )
        raw = open(path, "rb").read()
        assert b"XZ\x00" in raw and b"ZL\x08" not in raw
        back = rootio.read_tree(path, "T", ["a"], 0, len(vals))
        assert np.array_equal(back["a"], vals)
        # relabel the XZ frame as L4: the body is not (checksum + LZ4
        # block), so the canonical-XXH64 verification must reject it
        pos = raw.index(b"XZ\x00")
        bad = raw[:pos] + b"L4\x01" + raw[pos + 3 :]
        badpath = f"{d}/bad.root"
        open(badpath, "wb").write(bad)
        with pytest.raises(ValueError, match="checksum"):
            rootio.read_tree(badpath, "T", ["a"], 0, len(vals))
        zs = raw[:pos] + b"ZS\x01" + raw[pos + 3 :]
        zspath = f"{d}/zs.root"
        open(zspath, "wb").write(zs)
        with pytest.raises(ValueError, match="magic"):
            rootio.read_tree(zspath, "T", ["a"], 0, len(vals))


def test_rootio_l4_frames_roundtrip_and_detect_corruption():
    """kLZ4 files carry real L4 frames: 9-byte RZip header, canonical
    big-endian XXH64 of the block, LZ4 block (checksum counted in the
    compressed size).  Round-trips bit-exactly; one flipped block byte
    is caught by the checksum."""
    import tempfile

    import numpy as np

    from copperhead_spark.sources import rootio
    from copperhead_spark.sources.lz4codec import xxh64

    rng = np.random.RandomState(11)
    vals = np.repeat(rng.uniform(-1, 1, 60), 40)  # compressible
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/l.root"
        rootio.write_tree(
            path, "T", {"a": vals}, basket_entries=512, compress=404
        )
        raw = open(path, "rb").read()
        assert b"L4\x01" in raw and b"ZL\x08" not in raw and b"XZ\x00" not in raw
        pos = raw.index(b"L4\x01")
        csize = int.from_bytes(raw[pos + 3 : pos + 6], "little")
        stored = int.from_bytes(raw[pos + 9 : pos + 17], "big")
        block = raw[pos + 17 : pos + 9 + csize]
        assert xxh64(block) == stored  # the frame carries a REAL xxh64
        back = rootio.read_tree(path, "T", ["a"], 0, len(vals))
        assert np.array_equal(back["a"], vals)
        # flip one block byte -> checksum mismatch, never a wrong decode
        bad = bytearray(raw)
        bad[pos + 17 + len(block) // 2] ^= 0xFF
        badpath = f"{d}/flip.root"
        open(badpath, "wb").write(bytes(bad))
        with pytest.raises(ValueError, match="checksum"):
            rootio.read_tree(badpath, "T", ["a"], 0, len(vals))


def test_rootio_writer_rejects_bad_compress_spec():
    import tempfile

    import pytest as _pytest

    from copperhead_spark.sources import rootio

    with tempfile.TemporaryDirectory() as d:
        for spec in (10, 110, 210, 301, -1):
            with _pytest.raises(ValueError, match="compress"):
                rootio._Writer(f"{d}/x.root", compress=spec)
