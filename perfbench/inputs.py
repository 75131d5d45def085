"""Seeded inputs for the benchmark workloads and the answers they must give.

Everything here runs outside every timed region. The same seed always
produces byte-identical inputs; a directory holds one seed's inputs and is
reused when a run is repeated with that seed.

Two kinds of input:

- a text corpus for the reference's two jobs (wordcount, string_match):
  words drawn from a Zipf-distributed random vocabulary, with one search
  word planted in a fixed share of lines. The expected output files are
  computed here, independently of Spark, and kept as an md5 digest;
- fixture tables with the schemas and value domains of the repository's
  test fixtures (FIXTURES.md), including the near-duplicate documents
  (copies of another document with " dup" appended) that the dedup
  operators look for.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

# The fixture documents' 30-word vocabulary.
DOC_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
PART_ADJ = ("small", "red", "hot", "old", "large", "blue", "cold", "new")
PART_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# A word no vocabulary entry can contain: vocabulary words are lowercase.
SEARCH_WORD = "Needle"


def cached(out_dir: str, build) -> dict:
    """Return the info dict build(tmp_dir) wrote, building it only once per
    directory. build writes into a fresh directory that is renamed into
    place when complete, so an interrupted run never leaves half an input."""
    info_path = os.path.join(out_dir, "info.json")
    if os.path.exists(info_path):
        with open(info_path) as fh:
            return json.load(fh)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = build(tmp)
    with open(os.path.join(tmp, "info.json"), "w") as fh:
        json.dump(info, fh, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return info


# --------------------------------------------------------------------------
# text corpus
# --------------------------------------------------------------------------


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """`size` distinct lowercase words of 3-10 letters, as a bytes array."""
    words: list[bytes] = []
    seen: set[bytes] = set()
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(3, 11, n)
        letters = rng.integers(97, 123, (n, 10), dtype=np.uint8)
        for row, k in zip(letters, lens):
            w = row[:k].tobytes()
            if w not in seen:
                seen.add(w)
                words.append(w)
    return np.array(words, dtype=object)


def make_corpus(
    out_dir: str,
    seed: int,
    target_bytes: int,
    vocab_size: int,
    zipf_s: float,
    search_share: float,
) -> dict:
    """Write corpus.txt (about target_bytes) and return its description plus
    the md5 of the exact files run_wordcount and run_string_match must
    write for it."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, vocab_size)
    word_len = np.array([len(w) for w in vocab] + [len(SEARCH_WORD)])
    # Zipf ranks by inverse-CDF sampling over a finite vocabulary.
    p = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    p /= p.sum()
    cdf = np.cumsum(p)
    n_words = int(1.1 * target_bytes / (p @ word_len[:-1] + 1))
    ids = np.minimum(np.searchsorted(cdf, rng.random(n_words)), vocab_size - 1)
    # line lengths 4..24 words; keep whole lines up to target_bytes, so
    # every seed yields the same size to within one line
    lens = rng.integers(4, 25, n_words // 4)
    ends = np.cumsum(lens)
    ends = ends[ends <= n_words]
    line_bytes_end = np.cumsum(word_len[ids] + 1)[ends - 1]
    n_lines = int(np.searchsorted(line_bytes_end, target_bytes, side="right"))
    ends = ends[:n_lines]
    n_words = int(ends[-1])
    ids = ids[:n_words]
    starts = np.concatenate(([0], ends[:-1]))
    # plant the search word at a random position of a fixed share of lines
    planted = rng.random(n_lines) < search_share
    pos = starts + (rng.random(n_lines) * lens[:n_lines]).astype(np.int64)
    search_id = vocab_size
    ids[pos[planted]] = search_id
    vocab_all = np.append(vocab, SEARCH_WORD.encode())

    is_end = np.zeros(n_words, dtype=bool)
    is_end[ends - 1] = True
    seps = np.where(is_end, b"\n", b" ").astype(object)
    toks = vocab_all[ids]
    buf = b"".join((toks + seps).tolist())
    path = os.path.join(out_dir, "corpus.txt")
    with open(path, "wb") as fh:
        fh.write(buf)

    # wordcount: tokens are the maximal letter runs, uppercased; every
    # generated word is one such run, so the counts are the id counts.
    counts = np.bincount(ids, minlength=len(vocab_all))
    used = np.nonzero(counts)[0]
    upper = [vocab_all[i].upper() for i in used]
    order = sorted(range(len(used)), key=lambda k: (-counts[used[k]], upper[k]))
    wc = b"".join(b"%s\t%d\n" % (upper[k], counts[used[k]]) for k in order)

    # string_match: case-insensitive substring test on each line, 0-based
    # line numbers, ascending.
    needle = SEARCH_WORD.lower().encode()
    lines = buf.split(b"\n")[:-1]
    sm = b"".join(
        b"%d:%s\n" % (i, line)
        for i, line in enumerate(lines)
        if needle in line.lower()
    )
    return {
        "kind": "corpus",
        "seed": seed,
        "path": "corpus.txt",
        "bytes": len(buf),
        "lines": n_lines,
        "words": n_words,
        "vocab_size": vocab_size,
        "distinct_words": int(len(used)),
        "zipf_s": zipf_s,
        "search_word": SEARCH_WORD,
        "search_share": search_share,
        "expected": {
            "wordcount": {
                "md5": hashlib.md5(wc).hexdigest(),
                "bytes": len(wc),
                "lines": len(used),
            },
            "string_match": {
                "md5": hashlib.md5(sm).hexdigest(),
                "bytes": len(sm),
                "lines": sm.count(b"\n"),
            },
        },
    }


# --------------------------------------------------------------------------
# fixture tables
# --------------------------------------------------------------------------


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n)).astype("datetime64[D]").astype(
        "datetime64[us]"
    )


def _documents(rng, n):
    texts = []
    for k in rng.integers(10, 100, n):
        texts.append(" ".join(DOC_WORDS[i] for i in rng.integers(0, 30, k)))
    # 5 % near duplicates: another document's text plus " dup" (copies of
    # copies happen, as in the fixtures)
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        j = int(rng.integers(0, n - 1))
        j += j >= i
        texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _tables(rng, scale: float) -> dict:
    """Column dicts for every fixture table at fixture scale factor `scale`
    (1.0 = the TPC-H sf1 row counts the fixtures follow)."""
    n_cust = max(150, int(150_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))

    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    first = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_linenumber = (np.arange(n_li) - first + 1).astype(np.int32)

    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
        + rng.integers(0, 30 * 86_400 * 1_000_000, n_ev)
    ).astype("datetime64[us]")
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    return {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": list(REGIONS),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        },
        "lineitem": {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": l_linenumber,
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0.01, 490.02, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    }


def make_tables(
    out_dir: str, seed: int, scale: float, n_docs: int, names: tuple[str, ...]
) -> dict:
    """Write <name>.parquet for each requested fixture table and return the
    row and byte counts. The row order is the generator's, drawn from the
    seed like every value."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    cols = _tables(rng, scale)
    cols["documents"] = _documents(rng, n_docs)
    rows, sizes = {}, {}
    for name in names:
        table = pa.table(cols[name])
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        rows[name] = table.num_rows
        sizes[name] = os.path.getsize(path)
    return {
        "kind": "tables",
        "seed": seed,
        "scale": scale,
        "n_docs": n_docs,
        "rows": rows,
        "bytes": sum(sizes.values()),
        "table_bytes": sizes,
    }
