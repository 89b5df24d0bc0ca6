"""Seeded input generators, one per workload.

Each generator writes its inputs under ``out_dir`` before any timing and
returns a manifest: input rows, input bytes and the closed-form facts the
output checks compare against. Same seed -> byte-identical files; the
program under test only ever sees the files.
"""

from __future__ import annotations

import gzip
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------------- helpers


def _zipf_index(rng: np.random.Generator, n: int, size: int, a: float) -> np.ndarray:
    """Indices in [0, n) with P(k) ~ 1 / (k + 1)^a (bounded Zipf)."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** a
    return rng.choice(n, size=size, p=w / w.sum())


def dir_files(path: str) -> dict[str, int]:
    """Size in bytes of a file, or of every file under a directory, by path."""
    if os.path.isfile(path):
        return {path: os.path.getsize(path)}
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """Distinct lowercase pseudo-words of 3-9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


# ------------------------------------------------------------- crawl_graph

CRAWL_CAPTURES = 4_000
CRAWL_FILES = 16
CRAWL_HOSTS = 400
_TLDS = ("COM", "org", "net", "io")


def _host(j: int) -> str:
    # mixed case + www. prefix exercise SURT canonicalization; the id j
    # alone decides the canonical host, so distinct j <-> distinct node
    return f"www.{'Site' if j % 2 else 'Shop'}{j}.Example.{_TLDS[j % 4]}"


def _warc_record(headers: list[tuple[str, str]], block: bytes) -> bytes:
    head = b"WARC/1.0\r\n" + b"".join(f"{k}: {v}\r\n".encode() for k, v in headers)
    head += f"Content-Length: {len(block)}\r\n\r\n".encode()
    return head + block + b"\r\n\r\n"


def gen_crawl(out_dir: str, seed: int) -> dict:
    """Linked-HTML captures in gzip-member WARC files (Common Crawl layout).

    Source and link-target hosts are Zipf-drawn, so the domain graph has
    hub nodes. Every page carries 0-8 absolute links and 0-2 root-relative
    links (both must survive WAT extraction on pages that pass the
    status/type filter) plus four traps that must not: a fragment,
    mailto:, javascript: and a directory-relative href.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 1500)
    n = CRAWL_CAPTURES
    src = _zipf_index(rng, CRAWL_HOSTS, n, 1.05)
    status = rng.choice([200, 404, 301], size=n, p=[0.85, 0.10, 0.05])
    is_html = rng.random(n) < 0.9
    n_abs = rng.integers(0, 9, size=n)
    n_rel = rng.integers(0, 3, size=n)
    n_words = rng.integers(60, 160, size=n)
    dst = _zipf_index(rng, CRAWL_HOSTS, int(n_abs.sum()), 1.3)
    dst_path = rng.integers(0, 50, size=dst.size)
    dst_q = rng.integers(0, 4, size=(dst.size, 2))
    rel_path = rng.integers(0, 20, size=int(n_rel.sum()))
    words = rng.integers(0, len(vocab), size=int(n_words.sum()))

    wat_edges = 0
    page_edges: set[tuple] = set()
    host_edges: set[tuple[int, int]] = set()
    pages = 0
    di = ri = wi = 0
    os.makedirs(out_dir, exist_ok=True)
    per = -(-n // CRAWL_FILES)
    for f in range(CRAWL_FILES):
        members = [
            _warc_record(
                [
                    ("WARC-Type", "warcinfo"),
                    ("WARC-Date", "2024-01-01T00:00:00Z"),
                    ("WARC-Record-ID", f"<urn:uuid:ffffffff-0000-0000-0000-{f:012d}>"),
                    ("Content-Type", "application/warc-fields"),
                ],
                b"software: perfbench crawl generator\r\n",
            )
        ]
        for i in range(f * per, min((f + 1) * per, n)):
            h = int(src[i])
            uri = f"http://{_host(h)}/page/{i}"
            ok = status[i] == 200 and is_html[i]
            links = []
            for _ in range(int(n_abs[i])):
                t, p = int(dst[di]), int(dst_path[di])
                b, a = int(dst_q[di, 0]), int(dst_q[di, 1])
                di += 1
                links.append(f'<a href="http://{_host(t)}/p/{p}?b={b}&a={a}">x</a>')
                if ok:
                    page_edges.add((i, t, "p", p, a, b))
                    host_edges.add((h, t))
            for _ in range(int(n_rel[i])):
                p = int(rel_path[ri])
                ri += 1
                links.append(f"<a class='nav' href='/local/{p}'>l</a>")
                if ok:
                    page_edges.add((i, h, "local", p, 0, 0))
                    host_edges.add((h, h))
            text = " ".join(vocab[k] for k in words[wi : wi + int(n_words[i])])
            wi += int(n_words[i])
            body = (
                f"<html><head><title>Page {i}</title></head><body><p>{text}</p>"
                + " ".join(links)
                + '<a href="#top">t</a> <a href="mailto:web@example.com">m</a> '
                '<a href="javascript:void(0)">j</a> <a href="rel/dir.html">d</a>'
                "</body></html>"
            ).encode()
            if ok:
                pages += 1
                wat_edges += int(n_abs[i]) + int(n_rel[i])
            ctype = "text/html" if is_html[i] else "text/plain"
            date = f"2024-03-{1 + i % 28:02d}T00:00:00Z"
            rid = f"<urn:uuid:00000000-0000-0000-0000-{i:012d}>"
            http = (
                f"HTTP/1.1 {status[i]} X\r\nContent-Type: {ctype}; charset=utf-8\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode() + body
            members.append(
                _warc_record(
                    [
                        ("WARC-Type", "request"),
                        ("WARC-Date", date),
                        ("WARC-Record-ID", rid[:-1] + "-req>"),
                        ("WARC-Target-URI", uri),
                        ("Content-Type", "application/http; msgtype=request"),
                    ],
                    f"GET /page/{i} HTTP/1.1\r\nHost: {_host(h)}\r\n\r\n".encode(),
                )
            )
            members.append(
                _warc_record(
                    [
                        ("WARC-Type", "response"),
                        ("WARC-Date", date),
                        ("WARC-Record-ID", rid),
                        ("WARC-Target-URI", uri),
                        ("Content-Type", "application/http; msgtype=response"),
                    ],
                    http,
                )
            )
        with open(os.path.join(out_dir, f"crawl-{f:05d}.warc.gz"), "wb") as out:
            for m in members:  # one gzip member per record
                out.write(gzip.compress(m, compresslevel=6, mtime=0))
    return {
        "input_rows": n,
        "input_bytes": dir_bytes(out_dir),
        "pages": pages,
        "wat_edges": wat_edges,
        "host_edges": len(host_edges),
        "page_links": len(page_edges),
        "nodes": len({h for e in host_edges for h in e}),
    }


# ------------------------------------------------------------ llm_curation

CURATION_DOCS = 1_600
CURATION_SHARDS = 16
CURATION_VECTORS = 1_600
CURATION_DIM = 64
# footer words are outside the body vocabulary, so "no footer word in the
# cleaned text" is an exact check; 12 words = three aligned 4-token windows
FOOTER = (
    "subscribez newsletterz todayz forz exclusivez offersz "
    "andz updatesz fromz ourz partnerz sitez"
)
_STOP = ("the", "be", "to", "of", "and", "that", "have", "with")
_NEAR_DUP_MIN_JACCARD = 0.98  # MinHash 8 bands x 8 rows then misses a pair w.p. < 3e-7


def _shingles(text: str, k: int = 5) -> set[str]:
    return {text[i : i + k] for i in range(max(1, len(text) - k + 1))}


def gen_curation(out_dir: str, seed: int) -> dict:
    """Web-text corpus with planted duplicates, plus an embedding table.

    Documents: 80% unique bases, 10% exact copies and 10% one-letter edits
    (char-5-shingle Jaccard >= 0.98 to their base) of distinct bases, 4%
    too-short pages the Gopher gate must drop, and a shared 12-word footer
    on every page. Body word counts are multiples of 4 so the footer lines
    up with the boilerplate operator's 4-token windows. Embeddings: 90%
    Gaussian vectors, 10% twins of distinct originals (cosine > 0.995).
    """
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 4000)
    vocab = [w for w in vocab if w not in _STOP and not w.endswith("z")]
    n = CURATION_DOCS
    n_dup = n // 10
    n_short = n // 25
    n_base = n - 2 * n_dup - n_short
    lengths = 4 * rng.integers(28, 45, size=n_base)
    zipf = _zipf_index(rng, len(vocab), int(lengths.sum()), 1.0)
    stop_pos = rng.random(int(lengths.sum())) < 0.12
    stop_pick = rng.integers(0, len(_STOP), size=int(lengths.sum()))
    bodies: list[str] = []
    o = 0
    for ln in lengths:
        ws = [
            _STOP[stop_pick[j]] if stop_pos[j] else vocab[zipf[j]]
            for j in range(o, o + int(ln))
        ]
        o += int(ln)
        bodies.append(" ".join(ws))
    texts = list(bodies)
    kind = ["base"] * n_base
    origin = list(range(n_base))
    targets = rng.permutation(n_base)[: 2 * n_dup]
    for t in targets[:n_dup]:
        texts.append(bodies[t])
        kind.append("exact")
        origin.append(int(t))
    letters = "abcdefghijklmnopqrstuvwxy"
    for t in targets[n_dup:]:
        ws = bodies[t].split(" ")
        while True:  # one-letter edit of one mid-document word
            j = int(rng.integers(len(ws) // 4, 3 * len(ws) // 4))
            w = ws[j]
            c = int(rng.integers(0, len(w)))
            edited = w[:c] + letters[(letters.find(w[c]) + 1) % len(letters)] + w[c + 1 :]
            cand = " ".join(ws[:j] + [edited] + ws[j + 1 :])
            a, b = _shingles(bodies[t] + " " + FOOTER), _shingles(cand + " " + FOOTER)
            if edited not in _STOP and len(a & b) / len(a | b) >= _NEAR_DUP_MIN_JACCARD:
                break
        texts.append(cand)
        kind.append("near")
        origin.append(int(t))
    for s in range(n_short):
        texts.append(" ".join(vocab[k] for k in rng.integers(0, len(vocab), size=12)))
        kind.append("short")
        origin.append(-1)
    # doc ids: a seeded permutation, so a copy's id may be lower than its
    # base's; the survivor of each planted pair is the lower id
    ids = rng.permutation(n) * 7 + 1000
    full = [t + " " + FOOTER for t in texts]
    docs_dir = os.path.join(out_dir, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    order = rng.permutation(n)
    for s, chunk in enumerate(np.array_split(order, CURATION_SHARDS)):
        tbl = pa.table(
            {
                "doc_id": pa.array([int(ids[k]) for k in chunk], pa.int64()),
                "text": pa.array([full[k] for k in chunk], pa.string()),
                "lang": pa.array(["en"] * len(chunk), pa.string()),
                "source": pa.array([f"shard{s}"] * len(chunk), pa.string()),
                "n_chars": pa.array([len(full[k]) for k in chunk], pa.int64()),
            }
        )
        pq.write_table(tbl, os.path.join(docs_dir, f"part-{s:05d}.parquet"))
    base_id = {b: int(ids[b]) for b in range(n_base)}
    exact_losers, near_losers = [], []
    for k in range(n_base, n):
        if kind[k] in ("exact", "near"):
            a, b = base_id[origin[k]], int(ids[k])
            (exact_losers if kind[k] == "exact" else near_losers).append(max(a, b))

    m = CURATION_VECTORS
    n_twin = m // 10
    vecs = rng.standard_normal((m, CURATION_DIM))
    orig = rng.permutation(m - n_twin)[:n_twin]
    vecs[m - n_twin :] = vecs[orig] + 0.05 * rng.standard_normal((n_twin, CURATION_DIM))
    vec_ids = rng.permutation(m) + 1
    twin_losers = [
        int(max(vec_ids[o], vec_ids[m - n_twin + j])) for j, o in enumerate(orig)
    ]
    emb_dir = os.path.join(out_dir, "embeddings")
    os.makedirs(emb_dir, exist_ok=True)
    v32 = vecs.astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(vec_ids, pa.int64()),
                "embedding": pa.array(list(v32), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 8, size=m), pa.int32()),
            }
        ),
        os.path.join(emb_dir, "part-00000.parquet"),
    )
    return {
        "input_rows": n + m,
        "input_bytes": dir_bytes(docs_dir) + dir_bytes(emb_dir),
        "docs": n,
        "gate_pass": n - n_short,
        "exact_losers": sorted(exact_losers),
        "near_losers": sorted(near_losers),
        "survivors": n_base,
        "footer_words": FOOTER.split(),
        "vectors": m,
        "twin_losers": sorted(twin_losers),
    }


# ---------------------------------------------------------- star_analytics

STAR_LINEITEMS = 60_000
STAR_EVENTS = 20_000
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def gen_star(out_dir: str, seed: int) -> dict:
    """Star tables in the fixture schema (FIXTURES.md) plus an events table.

    Order and lineitem keys into customer and part are Zipf-drawn, so a
    few customers and parts carry most rows (skewed joins and windows).
    """
    rng = np.random.default_rng(seed)
    n_li = STAR_LINEITEMS
    n_ord = n_li // 4
    n_cust = n_ord // 5
    n_part = n_li // 12
    n_supp = max(100, n_li // 240)
    t0 = datetime(2020, 1, 1)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION{k:02d}" for k in range(25)], pa.string()),
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(1, n_cust + 1)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=n_cust), 2)),
        "c_mktsegment": pa.array(
            rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], size=n_cust),
            pa.string(),
        ),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(1, n_supp + 1)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=n_supp), 2)),
    })
    write("part", {
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": pa.array([f"part {k}" for k in range(1, n_part + 1)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(11, 56, size=n_part)], pa.string()),
        "p_type": pa.array(
            rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], size=n_part),
            pa.string(),
        ),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, size=n_part), 2)),
    })
    o_days = rng.integers(0, 6 * 365, size=n_ord)
    o_secs = rng.integers(0, 86_400, size=n_ord)
    o_date = [t0 + timedelta(days=int(d), seconds=int(s)) for d, s in zip(o_days, o_secs)]
    write("orders", {
        "o_orderkey": pa.array(np.arange(1, n_ord + 1), pa.int64()),
        "o_custkey": pa.array(_zipf_index(rng, n_cust, n_ord, 0.9) + 1, pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_ord), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, size=n_ord), 2)),
        "o_orderdate": pa.array(o_date, pa.timestamp("ms")),
        "o_orderpriority": pa.array(
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_ord),
            pa.string(),
        ),
    })
    l_ord = np.sort(rng.integers(1, n_ord + 1, size=n_li))
    l_ship = [o_date[k - 1] + timedelta(days=int(d)) for k, d in zip(l_ord, rng.integers(1, 120, size=n_li))]
    write("lineitem", {
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(_zipf_index(rng, n_part, n_li, 1.1) + 1, pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, size=n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, size=n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n_li), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n_li), pa.string()),
        "l_shipdate": pa.array(l_ship, pa.timestamp("ms")),
    })
    # events: user_id = customer key, so they as-of join against orders
    e_user = _zipf_index(rng, n_cust, STAR_EVENTS, 0.9) + 1
    e_secs = rng.integers(0, 6 * 365 * 86_400, size=STAR_EVENTS)
    write("events", {
        "event_id": pa.array(np.arange(1, STAR_EVENTS + 1), pa.int64()),
        "ts": pa.array([t0 + timedelta(seconds=int(s)) for s in e_secs], pa.timestamp("us")),
        "user_id": pa.array(e_user, pa.int64()),
        "event_type": pa.array(rng.choice(["view", "click", "cart", "buy"], size=STAR_EVENTS), pa.string()),
        "value": pa.array(np.round(rng.uniform(0, 500, size=STAR_EVENTS), 2)),
        "props": pa.array(['{"k":1}'] * STAR_EVENTS, pa.string()),
    })
    rows = 5 + 25 + n_cust + n_supp + n_part + n_ord + n_li + STAR_EVENTS
    return {"input_rows": rows, "input_bytes": dir_bytes(out_dir), "lineitem": n_li}


def gen_crawl_curation(out_dir: str, seed: int) -> dict:
    """Inputs of the web-corpus workload: WARC captures plus a text corpus
    and embeddings, from one seed."""
    crawl = gen_crawl(os.path.join(out_dir, "warc"), seed)
    curation = gen_curation(os.path.join(out_dir, "curation"), seed)
    return {
        "input_rows": crawl["input_rows"] + curation["input_rows"],
        "input_bytes": crawl["input_bytes"] + curation["input_bytes"],
        "crawl": crawl,
        "curation": curation,
    }
