"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size: the same seed
gives byte-identical files, another seed gives other data of the same
shape. All outputs go under a work directory keyed by workload, seed
and size (see :func:`work_dir`); nothing is written anywhere else.

- ``customer_etl``: the FIXTURES.md §B staging estate (16 tables)
  plus per-run party deltas whose changed customers are known.
- ``llm_curation``: a word-soup corpus with planted exact and near
  duplicates (the true pairs are returned), clustered embedding
  vectors and query vectors near them.
- ``lakehouse_ingest``: a lineitem-shaped table, the per-pass
  operation schedule, and the merge / micro-batch delta files.
"""

from __future__ import annotations

import datetime
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"


def work_dir(workload: str, seed: int, size: str) -> Path:
    """Fresh, empty input directory for one (workload, seed, size)."""
    d = WORK / f"{workload}-seed{seed}-{size}"
    if d.exists():
        shutil.rmtree(d)
    d.mkdir(parents=True)
    return d


def write_arrow(table: pa.Table, path: Path) -> None:
    """Deterministic single-file parquet write (no timestamps in the
    footer, fixed row-group size), so equal tables give equal bytes."""
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


# ---------------------------------------------------------------------
# customer_etl: the FIXTURES.md §B staging estate
# ---------------------------------------------------------------------
#: Notification topics of the reference (SQL-8/SQL-9).
TOPICS = (10000, 30000, 40000, 50000, 70000, 90000, 110000, 110001, 110002)
#: Prior dim / history stamp and the first run's ETL date.
T_PRIOR = datetime.datetime(2020, 1, 1)
T_RUN0 = datetime.datetime(2024, 7, 1)
_EPOCH_2015 = 1_420_070_400
PARTY_OFFSET = 1_000_000


def _words(prefix: str, ints: np.ndarray) -> pa.Array:
    return pa.array(np.char.add(prefix, ints.astype(str)), pa.string())


def _ts(rng, n: int) -> pa.Array:
    """Timestamps within ~9 years after 2015-01-01 (UTC, microseconds)."""
    secs = _EPOCH_2015 + rng.integers(0, 284_000_000, size=n)
    return pa.array(secs * 1_000_000, pa.timestamp("us", tz="UTC"))


def _maybe(rng, arr: pa.Array, every: int) -> pa.Array:
    """``arr`` with about one value in ``every`` set to NULL."""
    nulls = pa.array(rng.integers(0, every, len(arr)) == 0)
    return pc.if_else(nulls, pa.scalar(None, arr.type), arr)


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int32), pa.int32())


def _i64(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int64), pa.int64())


def estate_tables(seed: int, n_cust: int) -> dict[str, pa.Table]:
    """The 16 staging tables of FIXTURES.md §B for ``n_cust``
    customers: multi-address / multi-acquisition customers, duplicate
    loyalty rows, NULL ``udate``, customers without preference rows and
    app users in the invalid-email status band."""
    n = n_cust
    r = [np.random.default_rng([seed, 10, k]) for k in range(16)]
    cid = np.arange(1, n + 1, dtype=np.int64)
    pid = cid + PARTY_OFFSET

    def pick(g, m):
        return g.integers(1, n + 1, size=m)

    g = r[0]
    party = pa.table({
        "party_id": _i64(pid),
        "party_tp_id": _i32(g.integers(1, 3, n)),
        "st_id": _i32(g.integers(20, 22, n)),
        "frst_name": _words("fn", g.integers(0, 5000, n)),
        "mname": _maybe(g, _words("mn", g.integers(0, 900, n)), 3),
        "lst_name": _words("ln", g.integers(0, 20000, n)),
        "nick_name": _maybe(g, _words("nick", g.integers(0, 300, n)), 2),
        "edu_id": _i32(g.integers(0, 6, n)),
        "brth_date": _ts(g, n),
        "gendr_id": _i32(g.integers(1, 3, n)),
        "mrtl_st_id": _i32(g.integers(0, 4, n)),
        "occp_id": _i32(g.integers(0, 40, n)),
        "incm_lvl_id": _i32(g.integers(0, 8, n)),
        "nat_id": _i32(g.integers(0, 30, n)),
        "org_name": _maybe(g, _words("org", g.integers(0, 2000, n)), 2),
        "tax_id": _words("tx", g.integers(0, 10**9, n)),
        "sdate": _ts(g, n),
        "cdate": _ts(g, n),
        "cuser": pa.array(["etl"] * n, pa.string()),
        # a quarter of the parties were never updated (SCD2 null split)
        "udate": _maybe(g, _ts(g, n), 4),
        "uuser": pa.array(["etl"] * n, pa.string()),
        "email": pa.array(np.char.add(np.char.add("u", cid.astype(str)), "@x.test")),
        "mobile_phone": _words("+90", g.integers(0, 10**9, n)),
        "refer_code": _words("R", g.integers(0, 10**6, n)),
    })
    g = r[1]
    cust = pa.table({
        "cust_id": _i64(cid),
        "party_id": _i64(pid),
        "st_id": _i32(g.integers(10, 13, n)),
        "cust_tp_id": _i32(g.integers(1, 4, n)),
        "new_cust_id": pa.nulls(n, pa.int64()),
        "cust_since": _ts(g, n),
    })
    n_acct = 2 * n
    acct = pa.table({"cust_acct_id": _i64(np.arange(1, n_acct + 1)),
                     "cust_id": _i64(pick(r[2], n_acct))})
    m = n // 2
    card = pa.table({"credit_card_id": _i64(np.arange(1, m + 1)),
                     "cust_acct_id": _i64(r[3].integers(1, n_acct + 1, m))})
    g, m = r[4], n * 3 // 2
    city, cntry = g.integers(0, 500, m), g.integers(0, 40, m)
    addr = pa.table({
        "addr_id": _i64(np.arange(1, m + 1)),
        "row_id": _i64(pick(g, m)),
        "city_id": _i32(city),
        "city_name": _words("city", city),
        "cntry_id": _i32(cntry),
        "cntry_name": _words("cntry", cntry),
    })
    # duplicate memberships on purpose (the J9 fan-out hazard)
    m = n // 3
    lylty = pa.table({"lylty_prg_memb_id": _i64(np.arange(1, m + 1)),
                      "cust_id": _i64(pick(r[5], m))})
    g, m = r[6], n * 6 // 5
    acq = pa.table({
        "cust_acq_id": _i64(np.arange(1, m + 1)),
        "cust_id": _i64(pick(g, m)),
        "web_acq_source": _words("src", g.integers(0, 12, m)),
        "web_acq_medium": _words("med", g.integers(0, 5, m)),
        "web_acq_campaign": _words("cmp", g.integers(0, 50, m)),
        "cdate": _ts(g, m),
    })
    g, m = r[7], n // 5
    trgt = _words("T", g.integers(0, 10**6, m)).to_numpy(zero_copy_only=False)
    trgt[g.integers(0, 10, m) == 0] = " "  # blank-padded sentinel
    gifts = pa.table({"src_cust_id": _i64(pick(g, m)), "trgt_cust_id": pa.array(trgt)})
    g, m = r[8], n // 7
    refer = pa.table({
        "src_cust_id": _i64(pick(g, m)),
        "st_id": _i32(np.where(g.integers(0, 5, m) == 0, 99, 10751)),
        "src_alt_val": _words("a", g.integers(0, 4, m)),
        "trgt_alt_val": _words("a", g.integers(0, 4, m)),
    })
    g, m = r[9], 2 * n
    prefs = pa.table({
        "cust_id": _i64(pick(g, m)),
        "is_actv": _i32(g.integers(0, 10, m) != 0),
        "ntf_topic_id": _i32(np.array(TOPICS)[g.integers(0, len(TOPICS), m)]),
        "is_slct": _i32(g.integers(0, 2, m)),
    })
    sys_prefs = pa.table({
        "is_actv": _i32(np.ones(len(TOPICS))),
        "ntf_topic_id": _i32(TOPICS),
        "is_slct": _i32(np.arange(len(TOPICS)) % 2),
    })
    g, m = r[10], n // 2
    apl_user = pa.table({
        # at most one app user per party
        "party_id": _i64(g.choice(n, size=m, replace=False) + 1 + PARTY_OFFSET),
        "pref_lang_id": _i32(g.integers(1, 4, m)),
        "ntf_pref_lang_id": _i32(g.integers(1, 4, m)),
        "st_id": _i32(np.where(g.integers(0, 6, m) == 0, 175, 20)),
    })
    statuses = [10, 11, 12, 20, 21, 174, 175, 176, 177, 178]

    def lookup(key, rows):
        return pa.table({key: _i32([k for k, _ in rows]),
                         "name": pa.array([v for _, v in rows], pa.string())})

    return {
        "stg_dce_party": party,
        "stg_dce_cust": cust,
        "stg_dce_gnl_st": lookup("gnl_st_id", [(s, f"status{s}") for s in statuses]),
        "stg_dce_cust_tp": lookup("cust_tp_id", [(1, "retail"), (2, "corporate"), (3, "vip")]),
        "stg_dce_gnl_tp": lookup("gnl_tp_id", [(1, "person"), (2, "org")]),
        "stg_dce_lang": lookup("lang_id", [(1, "turkish"), (2, "english"), (3, "german")]),
        "stg_dce_cust_acct": acct,
        "stg_dce_credit_card_cust_acct": card,
        "stg_dce_addr": addr,
        "stg_dce_lylty_prg_memb": lylty,
        "stg_dce_cust_acq": acq,
        "dwf_gift_detail": gifts,
        "stg_dce_refer_invit_hstr": refer,
        "stg_dce_cust_cmmnc_pref": prefs,
        "stg_dce_syst_cmmnc_pref": sys_prefs,
        "stg_dce_apl_user": apl_user,
    }


def delta_party(seed: int, party: pa.Table, delta: int, rate_per_mille: int):
    """The staging party table of daily run ``delta``: a seeded subset
    of parties changed their surname and carry a fresh ``udate``.
    Returns (table, sorted changed customer ids)."""
    g = np.random.default_rng([seed, 11, delta])
    changed = g.integers(0, 1000, party.num_rows) < rate_per_mille
    names = party.column("lst_name").to_numpy(zero_copy_only=False).astype(str)
    names = np.where(changed, np.char.add(names, f"~{delta}"), names)
    stamp = int((datetime.datetime(2024, 6, 1) - datetime.datetime(1970, 1, 1)).total_seconds())
    stamp = (stamp + delta * 86_400) * 1_000_000
    udate = party.column("udate").cast(pa.int64()).to_numpy(zero_copy_only=False)
    valid = ~party.column("udate").is_null().to_numpy(zero_copy_only=False)
    udate = np.where(changed, stamp, np.nan_to_num(udate)).astype(np.int64)
    out = party.set_column(
        party.schema.get_field_index("lst_name"), "lst_name", pa.array(names, pa.string())
    )
    out = out.set_column(
        out.schema.get_field_index("udate"),
        "udate",
        pa.array(udate, pa.int64(), mask=~(valid | changed)).cast(
            pa.timestamp("us", tz="UTC")
        ),
    )
    ids = party.column("party_id").to_numpy() - PARTY_OFFSET
    return out, sorted(int(c) for c in ids[changed])


def write_estate(out: Path, seed: int, n_cust: int, n_deltas: int,
                 rate_per_mille: int) -> dict:
    """Write the staging estate and ``n_deltas`` party variants as
    parquet. Returns {"tables": {name: path}, "deltas": [path],
    "changed": [sorted changed cust ids per delta], "rows": total
    staging rows}."""
    tables, rows = {}, 0
    estate = estate_tables(seed, n_cust)
    for name, t in estate.items():
        tables[name] = str(out / "staging" / name)
        write_arrow(t, Path(tables[name]) / "part-0.parquet")
        rows += t.num_rows
    deltas, changed = [], []
    for d in range(n_deltas):
        t, ids = delta_party(seed, estate["stg_dce_party"], d, rate_per_mille)
        deltas.append(str(out / "deltas" / f"party_{d}"))
        write_arrow(t, Path(deltas[-1]) / "part-0.parquet")
        changed.append(ids)
    return {"tables": tables, "deltas": deltas, "changed": changed, "rows": rows}


# ---------------------------------------------------------------------
# llm_curation: near-duplicate corpus + embeddings + queries
# ---------------------------------------------------------------------
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def vocabulary() -> list[str]:
    """286 words, one per (first letter, length 2..12). The engine's
    token value is (first codepoint, length), so on this vocabulary the
    engine's shingles are exactly the word 3-grams."""
    words = []
    for i, c in enumerate(_LETTERS):
        for length in range(2, 13):
            filler = "".join(_LETTERS[(i * 7 + j * 3) % 26] for j in range(length - 1))
            words.append(c + filler)
    return words


def make_corpus(seed: int, n_docs: int, words_per_doc: int = 60):
    """Word-soup documents with planted duplicates.

    About 10% of documents are exact copies and 20% are near copies
    (2 or 3 word substitutions) of an original. Returns (arrow table
    ``doc_id long, text string``, clusters) where ``clusters`` lists
    the doc ids of each original together with its copies.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(vocabulary())
    n_exact = n_docs // 10
    n_near = n_docs // 5
    n_orig = n_docs - n_exact - n_near
    idx = rng.integers(0, len(vocab), size=(n_orig, words_per_doc))
    docs = [list(row) for row in idx]
    src = rng.integers(0, n_orig, size=n_exact + n_near)
    clusters: dict[int, list[int]] = {}
    for j, s in enumerate(src):
        row = list(docs[s])
        if j >= n_exact:
            pos = rng.choice(words_per_doc, size=int(rng.integers(2, 4)), replace=False)
            for p in pos:
                # a different (first letter, length) so the token changes
                row[p] = (row[p] + 1 + int(rng.integers(0, len(vocab) - 1))) % len(vocab)
        clusters.setdefault(int(s), [int(s)]).append(n_orig + j)
        docs.append(row)
    # shuffle ids so copies are not adjacent to their originals
    perm = rng.permutation(n_docs)
    ids = np.empty(n_docs, dtype=np.int64)
    ids[perm] = np.arange(1, n_docs + 1)
    texts = [" ".join(vocab[r]) for r in docs]
    order = np.argsort(ids)
    table = pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        }
    )
    return table, [sorted(int(ids[m]) for m in ms) for ms in clusters.values()]


def make_vectors(seed: int, n_corpus: int, n_queries: int, dim: int = 64,
                 n_clusters: int = 32):
    """Clustered float32 embeddings and queries drawn near corpus
    points. Returns (corpus table ``vec_id, embedding``, queries table,
    corpus matrix, query matrix); query ids start at 10**9 so no query
    is its own neighbor."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(size=(n_clusters, dim))
    assign = rng.integers(0, n_clusters, size=n_corpus)
    corpus = (centers[assign] + 0.6 * rng.normal(size=(n_corpus, dim))).astype(np.float32)
    base = rng.integers(0, n_corpus, size=n_queries)
    queries = (corpus[base] + 0.3 * rng.normal(size=(n_queries, dim))).astype(np.float32)

    def table(ids, m):
        return pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list(m), pa.list_(pa.float32())),
            }
        )

    c_ids = np.arange(1, n_corpus + 1, dtype=np.int64)
    q_ids = np.arange(10**9, 10**9 + n_queries, dtype=np.int64)
    return table(c_ids, corpus), table(q_ids, queries), corpus, queries


# ---------------------------------------------------------------------
# lakehouse_ingest: lineitem-shaped table, schedule and deltas
# ---------------------------------------------------------------------
#: Ship months of the table (2 years, yyyymm ints).
MONTHS = [y * 100 + m for y in (1995, 1996) for m in range(1, 13)]
_FLAGS = np.array(["A", "N", "R"])


def _lineitem_rows(rng, keys: np.ndarray, months: np.ndarray) -> pa.Table:
    n = len(keys)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 1100, size=n), 2)
    return pa.table(
        {
            "l_key": pa.array(keys, pa.int64()),
            "l_partkey": pa.array(rng.integers(1, 20_000, size=n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 1_000, size=n), pa.int64()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(price, pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0, pa.float64()),
            "l_returnflag": pa.array(_FLAGS[rng.integers(0, 3, size=n)], pa.string()),
            "l_shipmonth": pa.array(months, pa.int32()),
        }
    )


def key_month(keys: np.ndarray, n_rows: int) -> np.ndarray:
    """Keys grow with ship month (order keys are issued over time)."""
    slot = np.minimum(keys * len(MONTHS) // n_rows, len(MONTHS) - 1)
    return np.array(MONTHS, dtype=np.int32)[slot]


def make_lineitem(seed: int, n_rows: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    keys = np.arange(n_rows, dtype=np.int64)
    return _lineitem_rows(rng, keys, key_month(keys, n_rows))


def make_schedule(seed: int, n_rows: int, n_ops: int, merge_rows: int,
                  stream_rows: int, delete_span: int) -> list[dict]:
    """One pass of the lakehouse operation mix, in order.

    Reads outnumber writes, as on a table dashboards poll: every cycle
    of 16 operations has one merge, one micro-batch and one delete,
    three range scans and ten metadata queries, with seeded arguments.
    Merges and micro-batches update existing keys of two adjacent
    months and insert new keys there; deletes remove a key range; scans
    read two months' worth of keys; metadata queries ask one month's
    count and key extremes.
    """
    rng = np.random.default_rng([seed, 4])
    cycle = ["merge", "meta", "scan", "meta", "meta", "stream", "meta", "scan",
             "meta", "meta", "delete", "meta", "scan", "meta", "meta", "meta"]
    ops = []
    next_key = n_rows
    month_span = n_rows // len(MONTHS)
    for i in range(n_ops):
        kind = cycle[i % len(cycle)]
        op = {"i": i, "kind": kind}
        if kind in ("merge", "stream"):
            rows = merge_rows if kind == "merge" else stream_rows
            m = int(rng.integers(0, len(MONTHS) - 1))
            lo, hi = m * month_span, (m + 2) * month_span
            n_upd = rows * 3 // 4
            upd = np.sort(rng.choice(np.arange(lo, hi), size=n_upd, replace=False))
            new = np.arange(next_key, next_key + rows - n_upd, dtype=np.int64)
            next_key += len(new)
            op["update_keys"], op["new_keys"], op["month"] = upd, new, m
        elif kind == "delete":
            lo = int(rng.integers(0, n_rows - delete_span))
            op["range"] = (lo, lo + delete_span - 1)
        elif kind == "scan":
            lo = int(rng.integers(0, n_rows - 2 * month_span))
            op["range"] = (lo, lo + 2 * month_span - 1)
        else:
            op["month"] = MONTHS[int(rng.integers(0, len(MONTHS)))]
        ops.append(op)
    return ops


def make_delta(seed: int, op: dict, n_rows: int) -> pa.Table:
    """Source rows of one merge / micro-batch: updated keys keep the
    month they live in, new keys land in the op's second month."""
    rng = np.random.default_rng([seed, 5, op["i"]])
    upd, new = op["update_keys"], op["new_keys"]
    months = np.concatenate(
        [
            key_month(upd, n_rows),
            np.full(len(new), MONTHS[op["month"] + 1], dtype=np.int32),
        ]
    )
    return _lineitem_rows(rng, np.concatenate([upd, new]), months)


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
