"""Arrow-batched vector kernels for the embedding operators.

Why these exist — the wide-vector arithmetic (cosine pairs, per-centroid
score folds, hyperplane projections) has no good pure-Column form at a
statically-known width:

* **Higher-order functions** (``transform``/``aggregate`` lambdas) are
  interpreted per element — ~100× whole-stage codegen (measured
  ~14 ms/row at dims=64; BENCH/BASELINE.md pathology #3).
* **Unrolled codegen chains** (one ``element_at``-term per dim) work for
  a single dot product, but any stage that folds k centroids × dims
  terms (IVF cell assignment, k-means scoring: 1,024+ terms) inlines
  ~200 bytes of bounds/null-check bytecode per term into ONE fused
  ``processNext()`` — past Janino's hard 64 KB method limit *and*
  HotSpot's 8 KB JIT ceiling (``core/session.py``), so the stage
  abandons whole-stage codegen after a multi-second doomed compile
  (re-paid per AQE stage, per action) and runs interpreted anyway.
  Measured: ann_ivf_topk 9.5 s/action on a 2,000-row corpus — all
  driver/compile time, no compute.
* **py4j literal chains** (``F.array(*[F.lit(x) …])`` for a 16×64
  centroid matrix) cost 1,000+ driver round-trips per query build.

A vectorized numpy kernel over Arrow batches is the shape Spark itself
prescribes for exactly this case (pandas_udf: one Arrow exchange per
batch, zero per-row Python) — and is how every production Spark
vector pipeline (Spark NLP, synapseml, petastorm consumers) ships wide
math.  At 100 TB the kernel is embarrassingly parallel per batch and
the Arrow transfer is a single columnar copy; the 1000-executor plan
shape (broadcast / bucket-equality joins around these projections) is
unchanged.

Bit-parity contract (what keeps the DuckDB value-hash oracles green):
every kernel accumulates with the SAME left-associated IEEE-754 fold
from 0.0 that ``dedup.dot_double`` / the unrolled SQL chains use —

    acc = 0.0; for d in index order: acc = acc + term_d

as 64-bit vectorized numpy ops (one ``acc = acc + A[:, d] * B[:, d]``
per dim; elementwise numpy arithmetic is plain IEEE-754 double — no
pairwise summation like ``np.sum``, no FMA/BLAS reassociation like
``np.matmul``, ever).  float32→float64 and int64→float64 input casts
are exact, same as the SQL ``cast(… as double)``.  Argmin/argmax tie
to the FIRST extreme index, same as
``array_position(arr, array_min(arr))``.

Dirty-row policy (one bad row must not fail a 100 TB job): a null
vector — or one whose width disagrees with the kernel's static
centroid/hyperplane width, or with its partner row in a pair kernel —
yields SQL NULL, exactly as the SQL folds these kernels replaced did;
a raw ``np.vstack`` would instead raise and kill the stage.  Validity
is decided PER ROW, never inferred from the batch, so results are
independent of partition layout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _mat_masked(s: pd.Series, dims: int) -> tuple[np.ndarray, np.ndarray]:
    """(A, mask): (n, dims) float64 matrix with INVALID rows zero-filled,
    plus the per-row validity mask.

    A row is invalid when it is null or its length disagrees with the
    statically-known ``dims`` (the centroid/hyperplane width).  The SQL
    folds these kernels replaced yielded NULL for such rows; a raw
    ``np.vstack`` instead raises inside the UDF and fails the whole
    100 TB job on one dirty row.  Valid rows compute bit-identically
    (each row's fold is independent; the zero-filled rows are masked
    out of the output).
    """
    vals = s.to_numpy()
    n = len(vals)
    mask = np.zeros(n, dtype=bool)
    rows = {}
    for i, t in enumerate(vals):
        if t is not None and len(t) == dims:
            mask[i] = True
            rows[i] = t
    A = np.zeros((n, dims), dtype=np.float64)
    for i, t in rows.items():
        A[i, :] = t
    return A, mask


def _lengths(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(vals, lens): the raw batch values and per-row lengths, -1 for
    null rows.  Validity for width-agnostic kernels is PER ROW (null /
    per-row length agreement), never inferred from the batch — batch
    composition depends on partition layout, and a row's result must
    not."""
    vals = s.to_numpy()
    lens = np.fromiter(
        (len(t) if t is not None else -1 for t in vals),
        dtype=np.int64,
        count=len(vals),
    )
    return vals, lens


def _null_double(vals: np.ndarray, mask: np.ndarray) -> pd.Series:
    """double column with SQL NULL on invalid rows; plain float64 (no
    boxing) on the all-valid fast path.  Known corner: in a batch that
    CONTAINS invalid rows, a genuine NaN result on a valid row (e.g. a
    zero-norm cosine) surfaces as NULL too — Arrow's from_pandas
    convention treats NaN in an object array as missing.  All-valid
    batches (the normal case) keep NaN, matching the replaced SQL."""
    if mask.all():
        return pd.Series(vals)
    out = np.ascontiguousarray(vals, dtype=np.float64).astype(object)
    out[~mask] = None
    return pd.Series(out, dtype=object)


def _null_int32(vals: np.ndarray, mask: np.ndarray) -> pd.Series:
    """int column with SQL NULL on invalid rows (same fast path)."""
    if mask.all():
        return pd.Series(vals, dtype="int32")
    out = np.ascontiguousarray(vals, dtype=np.int32).astype(object)
    out[~mask] = None
    return pd.Series(out, dtype=object)


def _ordered_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Left-assoc fold from 0.0: acc += A[:,d]*B[:,d] in index order —
    bit-identical to dedup.dot_double / dot_unrolled per row."""
    acc = np.zeros(len(A), dtype=np.float64)
    for d in range(A.shape[1]):
        acc = acc + A[:, d] * B[:, d]
    return acc


def pair_dot(a: Column | str, b: Column | str) -> Column:
    """double: ordered dot product of two vector columns (the per-pair
    hot path below equality/broadcast joins)."""

    @pandas_udf("double")
    def _k(x: pd.Series, y: pd.Series) -> pd.Series:
        xv, lx = _lengths(x)
        yv, ly = _lengths(y)
        mask = (lx >= 0) & (lx == ly)  # per-row: both non-null, same width
        out = np.zeros(len(xv), dtype=np.float64)
        for L in np.unique(lx[mask]):
            idx = np.where(mask & (lx == L))[0]
            if L == 0:
                continue  # empty vectors: dot = the fold's 0.0 seed
            A = np.vstack(xv[idx]).astype(np.float64, copy=False)
            B = np.vstack(yv[idx]).astype(np.float64, copy=False)
            out[idx] = _ordered_dot(A, B)
        return _null_double(out, mask)

    return _k(F.col(a) if isinstance(a, str) else a,
              F.col(b) if isinstance(b, str) else b)


def self_norm(v: Column | str) -> Column:
    """double: sqrt(ordered self-dot) — the hoisted per-row norm (one
    norm per row instead of two extra dots per candidate pair)."""

    @pandas_udf("double")
    def _k(x: pd.Series) -> pd.Series:
        xv, lx = _lengths(x)
        mask = lx >= 0  # a norm is defined for ANY non-null row
        out = np.zeros(len(xv), dtype=np.float64)
        for L in np.unique(lx[mask]):
            idx = np.where(lx == L)[0]
            if L == 0:
                continue  # empty vector: sqrt(0.0)
            A = np.vstack(xv[idx]).astype(np.float64, copy=False)
            out[idx] = np.sqrt(_ordered_dot(A, A))
        return _null_double(out, mask)

    return _k(F.col(v) if isinstance(v, str) else v)


def _dot_matrix(A: np.ndarray, cents: list[list[float]]) -> np.ndarray:
    """(n, k): ordered dot of every row against every centroid; per-dim
    constants multiply exactly as the constant-folded SQL literals."""
    out = np.empty((len(A), len(cents)), dtype=np.float64)
    for j, cent in enumerate(cents):
        acc = np.zeros(len(A), dtype=np.float64)
        for d, c in enumerate(cent):
            acc = acc + A[:, d] * float(c)
        out[:, j] = acc
    return out


def ivf_assign(v: Column | str, cents: list[list[float]]) -> Column:
    """struct<cell:int, norm:double>: argmax-dot cell (FIRST max index,
    same as array_position(cs, array_max(cs)) - 1) + hoisted self-norm,
    one Arrow pass over the corpus."""

    @pandas_udf("struct<cell:int, norm:double>")
    def _k(x: pd.Series) -> pd.DataFrame:
        A, mask = _mat_masked(x, dims=len(cents[0]))
        if len(A) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "norm": pd.Series([], dtype="float64")})
        S = _dot_matrix(A, cents)
        return pd.DataFrame({
            "cell": _null_int32(np.argmax(S, axis=1).astype(np.int32), mask),
            "norm": _null_double(np.sqrt(_ordered_dot(A, A)), mask),
        })

    return _k(F.col(v) if isinstance(v, str) else v)


def km_assign(vq: Column | str, cents: list[list[float]],
              with_d2: bool = False) -> Column:
    """k-means assignment over the fixed-point-quantized vector.

    score_j = fold_d ((c_d*c_d) - (2.0*c_d)*v_d)  — the ||v||²-free
    squared-L2 rank, constants pre-computed driver-side exactly as
    ``_dlit(c*c)`` / ``_dlit(2.0*c)`` fold them into the SQL chain;
    cluster = FIRST argmin.  With ``with_d2``, also the true squared L2
    fold_d (v_d - c_d)² against the CHOSEN centroid (scaled space),
    replacing element_at(d2_array, cluster+1).
    Returns struct<cluster:int> or struct<cluster:int, d2:double>.
    """
    rtype = ("struct<cluster:int, d2:double>" if with_d2
             else "struct<cluster:int>")

    @pandas_udf(rtype)
    def _k(x: pd.Series) -> pd.DataFrame:
        A, mask = _mat_masked(x, dims=len(cents[0]))
        if len(A) == 0:
            cols = {"cluster": pd.Series([], dtype="int32")}
            if with_d2:
                cols["d2"] = pd.Series([], dtype="float64")
            return pd.DataFrame(cols)
        S = np.empty((len(A), len(cents)), dtype=np.float64)
        for j, cent in enumerate(cents):
            acc = np.zeros(len(A), dtype=np.float64)
            for d, c in enumerate(float(xx) for xx in cent):
                acc = acc + (np.float64(c * c) - np.float64(2.0 * c) * A[:, d])
            S[:, j] = acc
        cluster = np.argmin(S, axis=1).astype(np.int32)
        cols = {"cluster": _null_int32(cluster, mask)}
        if with_d2:
            d2 = np.zeros(len(A), dtype=np.float64)
            for j, cent in enumerate(cents):
                m = cluster == j
                if not m.any():
                    continue
                acc = np.zeros(int(m.sum()), dtype=np.float64)
                Am = A[m]
                for d, c in enumerate(float(xx) for xx in cent):
                    diff = Am[:, d] - np.float64(c)
                    acc = acc + diff * diff
                d2[m] = acc
            cols["d2"] = _null_double(d2, mask)
        return pd.DataFrame(cols)

    return _k(F.col(vq) if isinstance(vq, str) else vq)


def lsh_bucket_norm(v: Column | str, signs: list[list[float]]) -> Column:
    """struct<bucket:string, norm:double>: the random-hyperplane LSH
    bucket key ('1'/'0' per plane, proj > 0, same ordered projection
    fold) + the hoisted self-norm, one Arrow pass."""

    @pandas_udf("struct<bucket:string, norm:double>")
    def _k(x: pd.Series) -> pd.DataFrame:
        A, mask = _mat_masked(x, dims=len(signs[0]))
        if len(A) == 0:
            return pd.DataFrame({"bucket": pd.Series([], dtype=object),
                                 "norm": pd.Series([], dtype="float64")})
        P = _dot_matrix(A, signs)
        bits = (P > 0).astype(np.uint8).astype("U1")
        bucket = np.apply_along_axis("".join, 1, bits)
        return pd.DataFrame({
            "bucket": pd.Series([b if ok else None
                                 for b, ok in zip(bucket, mask)],
                                dtype=object),
            "norm": _null_double(np.sqrt(_ordered_dot(A, A)), mask),
        })

    return _k(F.col(v) if isinstance(v, str) else v)


def ngram_distinct(toks: Column | str, n: int) -> Column:
    """struct<cnt:int, grams:array<string>>: per-row DISTINCT word
    n-grams in first-occurrence order, plus their count, in ONE Arrow
    pass.

    Replaces the pure-Column form
    ``array_distinct(transform(sequence(1, cnt), concat_ws(...)))`` in
    the decontamination scan: ``transform`` lambdas evaluate
    INTERPRETED per element (pathology #3, BENCH/BASELINE.md), and the
    consumer needs BOTH ``size(grams)`` and ``explode(grams)``, which
    Catalyst's generator pruning inlines as TWO independent builds per
    row.  As a pandas UDF the struct is materialized once by the
    ArrowEvalPython operator — plan-level, so no Catalyst rule can
    re-inline it — and both field accesses read the same batch.

    First-occurrence order matches ``array_distinct`` exactly
    (``dict.fromkeys`` preserves insertion order), so downstream
    explode/count semantics are unchanged.  Strings are joined with a
    single space, same as ``concat_ws(" ", ...)``.
    """

    @pandas_udf("struct<cnt:int, grams:array<string>>")
    def _k(x: pd.Series) -> pd.DataFrame:
        cnts = np.zeros(len(x), dtype=np.int32)
        grams: list[list[str]] = []
        for r, t in enumerate(x):
            lt = list(t) if t is not None else []
            m = len(lt) - (n - 1)
            if m <= 0:
                grams.append([])
                continue
            g = list(dict.fromkeys(
                " ".join(lt[i:i + n]) for i in range(m)
            ))
            cnts[r] = len(g)
            grams.append(g)
        return pd.DataFrame({"cnt": pd.Series(cnts, dtype="int32"),
                             "grams": grams})

    return _k(F.col(toks) if isinstance(toks, str) else toks)


def chunk_tokens(toks: Column | str, size: int, stride: int) -> Column:
    """array<struct<t:string, n:int>>: overlapping fixed-size token
    windows (chunk i covers tokens [i*stride, i*stride+size)), each as
    its space-joined text plus its token count, in ONE Arrow pass.

    The RAG/pretraining chunking step.  The pure-Column form —
    ``transform(sequence(...), i -> array_join(slice(toks, ...)))`` —
    is a per-element STRING build under a HOF lambda, the decontam
    pathology (#3, BENCH/BASELINE.md): interpreted per chunk and
    re-inlined into every consumer by Catalyst's generator pruning.
    Here the chunk array is materialized once at PLAN level by the
    ArrowEvalPython operator.

    A null token array — or Spark's ``['']`` split of an empty string —
    yields ZERO chunks (an empty document has nothing to index), never
    a null row.
    """
    if size <= 0 or stride <= 0:
        raise ValueError("size and stride must be positive")

    @pandas_udf("array<struct<t:string, n:int>>")
    def _k(x: pd.Series) -> pd.Series:
        out: list[list[tuple[str, int]]] = []
        for t in x:
            lt = list(t) if t is not None else []
            if lt == [""]:  # split('') — an empty document
                lt = []
            chunks = []
            for start in range(0, len(lt), stride):
                w = lt[start:start + size]
                chunks.append((" ".join(w), len(w)))
            out.append(chunks)
        return pd.Series(out, dtype=object)

    return _k(F.col(toks) if isinstance(toks, str) else toks)


def normalize_text_unicode(
    col: Column | str,
    strip_accents: bool = False,
    remove_control: bool = False,
) -> Column:
    """Unicode-canonical text normalization in ONE Arrow pass: NFC
    composition, optional accent stripping (NFD → drop combining
    marks → NFC, the ICU strip-accents semantics DuckDB's
    ``strip_accents`` implements), optional C0/C1 control-character
    removal (tab/newline preserved as whitespace class members are
    NOT — they are controls and go too; normalize whitespace BEFORE
    tokenizing if they matter).

    Spark has no NFC builtin; a row-at-a-time Python UDF is the slow
    path — this kernel normalizes a whole Arrow batch per call.  Null
    propagates.
    """
    import unicodedata

    @pandas_udf("string")
    def _k(x: pd.Series) -> pd.Series:
        def f(s):
            if s is None:
                return None
            if strip_accents:
                s = "".join(
                    c
                    for c in unicodedata.normalize("NFD", s)
                    if not unicodedata.combining(c)
                )
            s = unicodedata.normalize("NFC", s)
            if remove_control:
                s = "".join(
                    c for c in s if unicodedata.category(c) not in ("Cc", "Cf")
                )
            return s

        return x.map(f)

    return _k(F.col(col) if isinstance(col, str) else col)
