"""Arrow-vectorized stage-1 jagged front half.

pipeline.stage1_arrays runs the per-object work of stage 1 here — muon
selection + FSR dereference, the two-muon opposite-sign event cut, pt
ordering, jet selection + dR cleaning, top-2 extraction — as ONE
``mapInArrow`` pass: list offsets + flattened children come in as
contiguous Arrow buffers, every step above is a handful of NumPy vector
ops over them, and only the flat per-event columns come back.  (Catalyst
array higher-order functions, the JVM-only way to express this, are
interpreted per element; the measured cost was ~60% of the pipeline's
CPU.)

Bit-exactness (why the DuckDB oracles of every stage-1 consumer match
exactly): this front half contains NO transcendentals — only IEEE-754
+,-,*, comparisons, ``floor`` and integer counting, which NumPy and the
JVM evaluate identically double-for-double.  All trig (COS/SIN/EXP/LN
in the pair kinematics) stays in the codegen'd JVM tail
(pipeline._derive_and_label).  tests/test_pipeline.py checks the output
against an independent pandas mirror of the spec, exactly on the
transcendental-free columns.

Scale shape: a pure map over the event stream (zero shuffles), one
JVM->Python->JVM Arrow crossing per task.  Only the consumed columns
cross (explicit select below), batches are columnar both ways, and the
per-batch kernel is allocation-light.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (callers' convention)
from pyspark.sql import types as T

TWO_PI = 6.283185307179586
PI = 3.141592653589793

_BASE = ("event", "run", "genWeight", "MET_pt", "Pileup_nTrueInt")
_MU_OUT = (("pt_corr", "pt"), ("eta", "eta"), ("phi", "phi"),
           ("charge", "charge"), ("pfRelIso04_all", "pfRelIso04_all"))
_JET_OUT = ("pt", "eta", "phi", "mass", "qgl")


def flat_schema(src_schema: T.StructType) -> T.StructType:
    """Output schema derived from the (primitive-array) input schema so
    pass-through fields keep their source types exactly (mu1_pt is
    computed pt_corr = pt + double, hence always DOUBLE — the same
    promotion the SQL form has)."""
    by_name = {f.name: f for f in src_schema.fields}

    def elem(name: str) -> T.DataType:
        return by_name[name].dataType.elementType

    fields = [T.StructField(c, by_name[c].dataType) for c in _BASE]
    fields += [
        T.StructField("nmuons", T.LongType()),
        T.StructField("mm_charge", T.IntegerType()),
    ]
    for p in ("mu1_", "mu2_"):
        for src, out in _MU_OUT:
            t = T.DoubleType() if src == "pt_corr" else elem(f"mu_{out}")
            fields.append(T.StructField(p + out, t))
    fields.append(T.StructField("njets", T.LongType()))
    for p in ("jet1_", "jet2_"):
        fields += [T.StructField(p + f, elem(f"jet_{f}")) for f in _JET_OUT]
    return T.StructType(fields)


def _counts(col):
    """list lengths -> int64 numpy; null list cells count as empty."""
    import numpy as np

    counts = np.asarray(col.value_lengths().to_numpy(zero_copy_only=False))
    if counts.dtype.kind == "f":  # pragma: no cover - null list guard
        counts = np.nan_to_num(counts)
    return counts.astype(np.int64)


def _f(col):
    """Flattened list<floating> column -> float64 numpy (Spark widens to
    double before any arithmetic/comparison; float32->float64 is exact)."""
    import numpy as np

    a = col.flatten().to_numpy(zero_copy_only=False)
    return np.ascontiguousarray(a, dtype=np.float64)


def _raw(col):
    import numpy as np

    return np.ascontiguousarray(col.flatten().to_numpy(zero_copy_only=False))


def _dphi(a, b):
    import numpy as np

    d = a - b
    return d - TWO_PI * np.floor((d + PI) / TWO_PI)


def make_stage1_kernel(out_schema: T.StructType):
    """Returns the mapInArrow function.  Closure carries only the Arrow
    output schema (computed once, driver-side)."""

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        pa_schema = to_arrow_schema(out_schema)

        for batch in batches:
            n = batch.num_rows
            cols = {batch.schema.names[i]: batch.column(i)
                    for i in range(batch.num_columns)}

            mu_cnt = _counts(cols["mu_pt"])
            jet_cnt = _counts(cols["jet_pt"])
            fsr_cnt = _counts(cols["fsr_pt"])

            # ---- muons: raw cuts -> FSR deref -> pt_corr cut ----------
            m_ev = np.repeat(np.arange(n, dtype=np.int64), mu_cnt)
            m_pt = _f(cols["mu_pt"])
            m_eta = _f(cols["mu_eta"])
            m_iso = _f(cols["mu_pfRelIso04_all"])
            m_mid = _raw(cols["mu_mediumId"]).astype(bool)
            m_fidx = _raw(cols["mu_fsrPhotonIdx"]).astype(np.int64)
            raw = (np.abs(m_eta) < 2.4) & (m_iso < 0.25) & m_mid

            fsr_start = np.zeros(n, dtype=np.int64)
            np.cumsum(fsr_cnt[:-1], out=fsr_start[1:])
            fsr_pt = _f(cols["fsr_pt"])
            n_fsr_mu = fsr_cnt[m_ev]
            valid = (m_fidx >= 0) & (m_fidx < n_fsr_mu)
            fill = np.zeros(len(m_pt), dtype=np.float64)
            if valid.any():
                fill[valid] = fsr_pt[fsr_start[m_ev[valid]] + m_fidx[valid]]
            pt_corr = m_pt + fill * 0.1
            sel = raw & (pt_corr > 20.0)

            m_chg = _raw(cols["mu_charge"])
            cnt_sel = np.bincount(m_ev[sel], minlength=n)
            negs = np.bincount(m_ev[sel & (m_chg < 0)], minlength=n)
            keep = (cnt_sel == 2) & (negs % 2 == 1)
            nk = int(keep.sum())

            # ---- the two selected muons, pt_corr desc / idx asc -------
            msel = sel & keep[m_ev]
            pc = pt_corr[msel]
            swap = pc[1::2] > pc[0::2]

            def two(vals):
                a, b = vals[0::2], vals[1::2]
                return np.where(swap, b, a), np.where(swap, a, b)

            m_phi = _f(cols["mu_phi"])
            mu1_pt, mu2_pt = two(pc)
            mu1_eta, mu2_eta = two(m_eta[msel])
            mu1_phi, mu2_phi = two(m_phi[msel])
            mu1_chg, mu2_chg = two(m_chg[msel])
            mu1_iso, mu2_iso = two(m_iso[msel])

            # ---- jets: raw cuts -> dR clean vs the selected pair ------
            j_ev = np.repeat(np.arange(n, dtype=np.int64), jet_cnt)
            j_start = np.zeros(n, dtype=np.int64)
            np.cumsum(jet_cnt[:-1], out=j_start[1:])
            j_idx = np.arange(len(j_ev), dtype=np.int64) - j_start[j_ev] \
                if len(j_ev) else np.zeros(0, dtype=np.int64)
            j_pt = _f(cols["jet_pt"])
            j_eta = _f(cols["jet_eta"])
            j_phi = _f(cols["jet_phi"])
            j_id = _raw(cols["jet_jetId"])
            jraw = (j_pt > 25.0) & (np.abs(j_eta) < 4.7) & (j_id >= 2) \
                & keep[j_ev]

            row_of_ev = np.cumsum(keep) - 1  # kept-event row index
            jrow = row_of_ev[j_ev[jraw]]
            je, jp = j_eta[jraw], j_phi[jraw]
            d1 = je - mu1_eta[jrow]
            p1 = _dphi(jp, mu1_phi[jrow])
            d2 = je - mu2_eta[jrow]
            p2 = _dphi(jp, mu2_phi[jrow])
            near = (d1 * d1 + p1 * p1 < 0.16) | (d2 * d2 + p2 * p2 < 0.16)

            cj = np.flatnonzero(jraw)[~near]
            cj_row = jrow[~near]
            njets = np.bincount(cj_row, minlength=nk) if nk else \
                np.zeros(0, dtype=np.int64)

            # top-2 per kept event by (pt desc, idx asc)
            order = np.lexsort((j_idx[cj], -j_pt[cj], cj_row))
            cj = cj[order]
            c_start = np.zeros(nk, dtype=np.int64)
            if nk:
                np.cumsum(njets[:-1], out=c_start[1:])
            has1 = njets >= 1
            has2 = njets >= 2
            pos1 = c_start[has1]
            pos2 = c_start[has2] + 1

            def jcol(vals, dtype):
                o1 = np.zeros(nk, dtype=dtype)
                o2 = np.zeros(nk, dtype=dtype)
                o1[has1] = vals[cj[pos1]]
                o2[has2] = vals[cj[pos2]]
                return o1, o2

            j_mass = _f(cols["jet_mass"])
            j_qgl = _f(cols["jet_qgl"])
            jet1, jet2 = {}, {}
            for name, vals in (("pt", j_pt), ("eta", j_eta), ("phi", j_phi),
                               ("mass", j_mass), ("qgl", j_qgl)):
                jet1[name], jet2[name] = jcol(vals, np.float64)

            # ---- assemble ---------------------------------------------
            keep_arr = pa.array(keep)
            out = [cols[c].filter(keep_arr) for c in _BASE]
            out.append(pa.array(np.full(nk, 2, dtype=np.int64)))
            out.append(pa.array(np.full(nk, -1, dtype=np.int32)))
            mu_vals = {
                "mu1_": (mu1_pt, mu1_eta, mu1_phi, mu1_chg, mu1_iso),
                "mu2_": (mu2_pt, mu2_eta, mu2_phi, mu2_chg, mu2_iso),
            }
            fidx = len(out)
            for p in ("mu1_", "mu2_"):
                for (src, name), v in zip(_MU_OUT, mu_vals[p]):
                    out.append(pa.array(v).cast(
                        pa_schema.field(fidx).type))
                    fidx += 1
            out.append(pa.array(njets.astype(np.int64)))
            fidx += 1
            for p, side, mask in (("jet1_", jet1, has1), ("jet2_", jet2, has2)):
                for name in _JET_OUT:
                    out.append(pa.array(side[name], mask=~mask).cast(
                        pa_schema.field(fidx).type))
                    fidx += 1
            yield pa.RecordBatch.from_arrays(out, schema=pa_schema)

    return kernel


_MU_IN = ("pt", "eta", "phi", "charge", "pfRelIso04_all",
          "mediumId", "fsrPhotonIdx")
_JET_IN = ("pt", "eta", "phi", "mass", "qgl", "jetId")


def stage1_flat_arrow(ev: DataFrame) -> DataFrame:
    """events (post HLT/flag filter) -> flat per-event table, one
    mapInArrow pass.

    The Python boundary ships PRIMITIVE arrays (``Muon.pt`` etc. —
    ``GetArrayStructFields`` is whole-stage-codegen'd JVM-side), not the
    array<struct> columns: list<double> crosses Arrow near-zero-copy,
    while array-of-struct pays a per-element assembly on the JVM side
    (measured: the struct form cost MORE CPU than the interpreted
    array-HOF plan it replaced; the primitive form is what made the
    kernel a win)."""
    src = ev.select(
        *_BASE,
        *[F.col(f"Muon.{f}").alias(f"mu_{f}") for f in _MU_IN],
        *[F.col(f"Jet.{f}").alias(f"jet_{f}") for f in _JET_IN],
        F.col("FsrPhoton.pt").alias("fsr_pt"),
    )
    schema = flat_schema(src.schema)
    return src.mapInArrow(make_stage1_kernel(schema), schema)
