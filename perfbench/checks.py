"""Output checks of the checking pass.

Each op's rows, written as parquet by the JVM, are reduced to an
order-independent digest: every row becomes one canonical string (columns
by name; floats as `%.9g`, ints as ints, timestamps ISO, nulls as
`null`), the strings are sorted and hashed. The inputs are the fixed
corpus in `perfbench/corpus`, so the expected digest of every op with an
oracle is committed in `perfbench/expected.json`; `run.py --expect`
rewrites it after checking that graft's output equals the oracle's
(DuckDB over graft's `SparkEntry.oracleSql` or this module's SQL, or a
Python oracle). Ops without an exact oracle are checked against
properties their output must have.
"""
import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def canon_rows(df):
    """Sorted canonical row strings: the digest's pre-image."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame(index=df.index)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("int64").astype(str)
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64").astype(str)
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.map(lambda v: "null" if pd.isna(v) else f"{v:.9g}")
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]").map(
                lambda v: "null" if pd.isna(v) else v.isoformat())
        else:
            out[c] = s.map(lambda v: "null" if v is None else str(v))
    if len(out) == 0:
        return []
    return sorted(out.apply(lambda r: "\x01".join(r.values), axis=1).tolist())


def digest(df):
    return hashlib.sha256("\x02".join(canon_rows(df)).encode()).hexdigest()


def table(data_dir, name):
    return pq.read_table(os.path.join(data_dir, f"{name}.parquet")).to_pandas()


# st6's state machine (graft.streaming.Streams.sessionStateFn) over its
# on-time slice equals batch sessionization: a new session when the gap
# to the user's previous event exceeds Churn.SessionGapS (4 h); session
# counters never restart (retention is 90 days, the slice 5 days).
ST6_SQL = """
WITH e AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep FROM events
           WHERE FLOOR(epoch(ts) / 86400) < 19728),
g AS (SELECT user_id, ep, CASE WHEN ep - LAG(ep) OVER (PARTITION BY user_id ORDER BY ep)
        > 14400 THEN 1 ELSE 0 END AS brk FROM e),
s AS (SELECT user_id, ep, 1 + SUM(brk) OVER (PARTITION BY user_id ORDER BY ep
        ROWS UNBOUNDED PRECEDING) AS session_seq FROM g)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, MIN(ep) AS start_ep,
  MAX(ep) AS end_ep, COUNT(*) AS n_events FROM s GROUP BY user_id, session_seq
"""

# The benchmark's own SQL oracles for ops SparkEntry has none for.
ORACLES = {"st6_stream_session_state": ST6_SQL}

_M64 = (1 << 64) - 1


def _fnv64(b):
    h = 0xcbf29ce484222325
    for x in b:
        h = ((h ^ x) * 0x100000001b3) & _M64
    return h


def simhash(text):
    """64-bit SimHash as d4 defines it: every space-separated token's
    FNV-1a 64 hash votes +1/-1 per bit, a bit is set on a positive
    majority."""
    votes = [0] * 64
    for tok in text.encode().split(b" "):
        if tok:
            h = _fnv64(tok)
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(64) if votes[b] > 0)


def d4_oracle(data_dir):
    """Every document pair within Hamming distance 3, by brute force. d4's
    4 x 16-bit banding is exact by pigeonhole, so its output equals this."""
    docs = table(data_dir, "documents")
    ids = docs["doc_id"].tolist()
    sims = [simhash(t) for t in docs["text"]]
    rows = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            h = bin(sims[i] ^ sims[j]).count("1")
            if h <= 3:
                a, b = sorted((ids[i], ids[j]))
                rows.append((a, b, h))
    return pd.DataFrame(rows, columns=["doc_a", "doc_b", "hamming"], dtype="int64")


# s11 is approximate (PQ shortlist + exact re-rank). Its recall@10 against
# the exact float top-10 is 0.84 on the corpus; graft's own spec pins 0.80.
S11_RECALL_FLOOR = 0.80


def _check_s11(data_dir, df):
    """10 neighbours for each of the 5 query vectors, never the query
    itself, cosines equal to float cosines up to the milli-unit
    quantization, and recall@10 against the exact top-10 at least the
    floor."""
    emb = table(data_dir, "embeddings").sort_values("vec_id")
    ids = emb["vec_id"].to_numpy()
    if not (ids == np.arange(len(ids))).all():
        return "vec_id is not 0..n-1"
    v = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    if sorted(df.groupby("q_id").size().items()) != [(q, 10) for q in range(5)]:
        return "expected 10 neighbours for each of query vectors 0-4"
    if (df["q_id"] == df["cand_id"]).any():
        return "a query is its own neighbour"
    exact = np.einsum("ij,ij->i", v[df["q_id"].to_numpy()], v[df["cand_id"].to_numpy()])
    err = np.abs(exact - df["cos_sim"].to_numpy()).max()
    if err > 5e-3:
        return f"cosine off by {err:.2g}"
    hits = 0
    for q in range(5):
        cos = v @ v[q]
        cos[q] = -np.inf
        top = set(np.argsort(-cos, kind="stable")[:10].tolist())
        hits += len(top & set(df.loc[df["q_id"] == q, "cand_id"].tolist()))
    recall = hits / 50
    print(f"[perfbench] s11 recall@10 {recall:.2f}", file=sys.stderr)
    return (f"recall@10 {recall:.2f} below {S11_RECALL_FLOOR}"
            if recall < S11_RECALL_FLOOR else None)


def _check_t17(data_dir, df):
    """BPE token counts: every document, at least one token per word."""
    docs = table(data_dir, "documents").set_index("doc_id")
    want = pd.DataFrame({"words": docs["text"].map(lambda t: len(t.split(" "))),
                         "n": docs["text"].map(len)})
    got = df.set_index("doc_id").join(want, how="inner")
    if len(got) != len(want) or len(df) != len(want):
        return f"{len(df)} rows for {len(want)} documents"
    if (got["ws_tokens"] != got["words"]).any() or (got["chars"] != got["n"]).any():
        return "word or character counts differ"
    if (got["bpe_vocab_tokens"] < got["ws_tokens"]).any():
        return "a document has fewer BPE tokens than words"
    # Spark rounds half-up to 4 places; allow one unit of the last place
    comp = got["chars"] / got["bpe_vocab_tokens"].clip(lower=1)
    return "compression differs" if (comp - got["compression"]).abs().max() > 1e-4 else None


INVARIANTS = {"s11_knn_pq": _check_s11, "t17_bpe_tokens": _check_t17}


def _rows(where):
    return pq.read_table(where).to_pandas()


def load_expected():
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as fh:
        return json.load(fh)


def oracle_rows(data_dir, op, sql):
    """The oracle's rows for `op`: DuckDB over `sql` (graft's
    SparkEntry.oracleSql or Pipeline.c21Sql, or ORACLES), or the Python
    d4 oracle."""
    if op == "d4_dedup_simhash":
        return d4_oracle(data_dir), "python: brute-force simhash pairs"
    import duckdb  # only --expect needs DuckDB
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS "
                        f"SELECT * FROM read_parquet('{data_dir}/{f}')")
    # through Arrow, so types convert as they do for graft's parquet
    return con.sql(sql).fetch_arrow_table().to_pandas(), (
        "duckdb: the benchmark's SQL" if op in ORACLES else "duckdb: graft's oracle SQL")


def _compare(got, want_rows, want_digest, want_cols):
    if sorted(got.columns) != want_cols:
        return f"columns {sorted(got.columns)} != {want_cols}"
    if len(got) != want_rows:
        return f"{len(got)} rows, expected {want_rows}"
    if digest(got) != want_digest:
        return "digest mismatch"
    return None


def run(data_dir, checks):
    """checks: the JVM's list of {op, dir, oracle}. Returns
    {op: None | error string}."""
    expected = load_expected()
    out = {}
    for c in checks:
        op = c["op"]
        try:
            got = _rows(c["dir"])
            if op in expected:
                e = expected[op]
                out[op] = _compare(got, e["rows"], e["digest"], e["columns"])
            elif op in INVARIANTS:
                out[op] = INVARIANTS[op](data_dir, got)
            else:
                out[op] = "no expected digest (run.py --expect)"
        except Exception as e:  # noqa: BLE001 - every failure is reported
            out[op] = f"{type(e).__name__}: {e}"
    return out


def expect(data_dir, checks):
    """Check every op with an oracle against it and record the oracle's
    digest in expected.json. Returns {op: None | error string}; an op
    whose output differs from its oracle is not recorded."""
    expected = load_expected()
    out = {}
    for c in checks:
        op = c["op"]
        sql = c.get("oracle") or ORACLES.get(op)
        if not sql and op != "d4_dedup_simhash":
            continue
        try:
            want, source = oracle_rows(data_dir, op, sql)
            got = _rows(c["dir"])
            err = _compare(got, len(want), digest(want), sorted(want.columns))
            if err is None:
                expected[op] = {"rows": len(want), "columns": sorted(want.columns),
                                "digest": digest(want), "oracle": source}
            out[op] = err
        except Exception as e:  # noqa: BLE001
            out[op] = f"{type(e).__name__}: {e}"
    with open(EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return out
