"""rootio reader contract on files it did not (or only partly) write:
one tree-metadata format, and named errors on truncated or corrupted
input.  No Spark."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from copperhead_spark.sources import rootio

# ROOT fCompress per frame kind: kZLIB, kLZMA, kLZ4, kZSTD (level 6)
_CODECS = {"ZL": 106, "XZ": 206, "L4": 406, "ZS": 506}


def _jagged_file(path: str, compress: int) -> tuple[np.ndarray, np.ndarray]:
    """Write a small jagged tree (counts + values + one flat branch, 3
    baskets per branch, every basket compressible); returns the counts
    and values it holds."""
    counts = np.array([2, 0, 3, 1, 1] * 24, dtype=np.int32)
    pt = np.repeat(np.linspace(10.0, 60.0, 8), counts.sum() // 8)
    rootio.write_tree(
        path, "Events",
        {"nMuon": counts, "event": np.arange(len(counts), dtype=np.int64)},
        {"Muon_pt": ("nMuon", pt)},
        basket_entries=48, compress=compress,
    )
    got_counts, got_pt = rootio.read_tree(path, "Events", ["Muon_pt"])["Muon_pt"]
    assert np.array_equal(got_counts, counts) and np.array_equal(got_pt, pt)
    return counts, pt


def test_cstreeindex_only_file_reads_as_no_tree(tmp_path):
    """A file whose only tree metadata is the private CSTreeIndex v2
    record of pre-r11 writers holds no tree for this reader: read_tree
    names the missing TTree record, list_trees lists nothing."""
    p = str(tmp_path / "legacy.root")
    n = 100
    a = np.arange(n, dtype=np.float64)
    w = rootio._Writer(p, compress=6)
    # the pre-r11 CSTreeIndex v2 layout: version, entries, basket grid,
    # branch count, then (name, leaf letter, counts name) per branch
    idx = struct.pack(">hqii", 2, n, 32, 1)
    idx += rootio._tstring("x") + b"D" + rootio._tstring("")
    w.add("CSTreeIndex", "Events", "", idx, compressible=False)
    for start in range(0, n, 32):
        stop = min(start + 32, n)
        w.add("TBasket", "x", "Events",
              rootio._basket_bytes(a[start:stop], "D", stop - start))
    w.close()
    with pytest.raises(KeyError, match="no TTree object record named 'Events'"):
        rootio.read_tree(p, "Events", ["x"], 10, 90)
    assert rootio.list_trees(p) == []


@pytest.mark.parametrize("frame", sorted(_CODECS))
def test_every_strict_prefix_raises_named_error(tmp_path, frame):
    """A file cut short anywhere (an interrupted copy or write) raises
    ValueError or KeyError from read_tree — never wrong arrays, never
    another exception type."""
    full = str(tmp_path / "full.root")
    _jagged_file(full, _CODECS[frame])
    raw = open(full, "rb").read()
    assert raw.count(frame.encode()) >= 3  # the baskets are framed
    cut = str(tmp_path / "cut.root")
    for size in range(len(raw)):
        with open(cut, "wb") as fh:
            fh.write(raw[:size])
        with pytest.raises((ValueError, KeyError)):
            rootio.read_tree(cut, "Events")


@pytest.mark.parametrize("frame", sorted(_CODECS))
def test_every_flipped_frame_byte_decodes_or_raises(tmp_path, frame):
    """Inverting any single byte of one jagged basket's compression frame
    (9-byte header or body) either still decodes to the original arrays
    or raises ValueError: ZL frames carry adler32, XZ a CRC, L4 an XXH64
    of the block and ZS a zstd content checksum (XXH64)."""
    path = str(tmp_path / "f.root")
    counts, values = _jagged_file(path, _CODECS[frame])
    buf = rootio._open_buf(path)
    meta = rootio._tree_meta(buf, "Events")
    ent, seek = meta.tables["Muon_pt"]
    k = rootio._read_key(buf, seek[1])  # the middle basket
    lo, hi = k.data_pos, k.data_pos + k.datalen
    raw = bytes(buf[:])
    assert raw[lo : lo + 2] == frame.encode()
    want_counts = counts[ent[1] : ent[2]]
    want_values = values[counts[: ent[1]].sum() : counts[: ent[2]].sum()]
    flipped = str(tmp_path / "flip.root")
    outcomes = {"same": 0, "error": 0}
    for pos in range(lo, hi):
        bad = bytearray(raw)
        bad[pos] ^= 0xFF
        with open(flipped, "wb") as fh:
            fh.write(bad)
        try:
            got = rootio.read_tree(flipped, "Events", ["Muon_pt"],
                                   ent[1], ent[2])
        except ValueError:
            outcomes["error"] += 1
            continue
        got_counts, got_values = got["Muon_pt"]
        assert np.array_equal(got_counts, want_counts), pos - lo
        assert np.array_equal(got_values, want_values), pos - lo
        outcomes["same"] += 1
    assert outcomes["error"] >= (hi - lo) - 1  # at most the method byte
