"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same pair gives
byte-identical files. Each input directory gets a ``MANIFEST.json``
(seed, size, generator version, sha256 of every file) written LAST; an
input whose manifest is missing or differs is rebuilt whole, so a
half-built directory is never reused.

* :func:`link_graph` - a bow-tie link graph with Zipf link popularity,
  the generator behind the wiki dump.
* :func:`build_wiki` - a Wikipedia-like XML dump whose link markup
  includes red links, ``|alias`` links, padded targets, duplicate links,
  ``{}``/``#``/``<``/``Image:``/``File:`` invalid targets, dangling
  pages and XML entities in titles, plus the true edge set the
  reference DAG must recover from it.
* :func:`write_edges` - a link graph as a Parquet edge list.
* :func:`build_tables` - the engine's ten test tables (TPC-H-like
  star schema plus events, documents and embeddings) with the column
  names, types and value domains the query registry is written for.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from xml.sax.saxutils import escape

import numpy as np

GENERATOR_VERSION = 2
MANIFEST = "MANIFEST.json"


# ---------------------------------------------------------------------------
# manifest-guarded build
# ---------------------------------------------------------------------------


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _file_digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name == MANIFEST:
                continue
            path = os.path.join(dirpath, name)
            out[os.path.relpath(path, root)] = _sha256(path)
    return dict(sorted(out.items()))


def _manifest_ok(root: str, want: dict) -> bool:
    try:
        with open(os.path.join(root, MANIFEST)) as fh:
            have = json.load(fh)
    except (OSError, ValueError):
        return False
    if {k: have.get(k) for k in want} != want:
        return False
    return have.get("files") == _file_digests(root)


def ensure(root: str, kind: str, seed: int, size: dict, build) -> tuple[dict, bool]:
    """Build ``root`` with ``build(root)`` unless its manifest matches
    ``(kind, seed, size, GENERATOR_VERSION)`` and every file's sha256.
    Returns ``(build's metadata, rebuilt?)``; the metadata is kept in
    the manifest so a cache hit returns it too."""
    want = {
        "kind": kind,
        "seed": seed,
        "size": size,
        "generator_version": GENERATOR_VERSION,
    }
    if _manifest_ok(root, want):
        with open(os.path.join(root, MANIFEST)) as fh:
            return json.load(fh)["meta"], False
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    meta = build(root)
    manifest = dict(want, files=_file_digests(root), meta=meta)
    with open(os.path.join(root, MANIFEST), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return meta, True


# ---------------------------------------------------------------------------
# link graph
# ---------------------------------------------------------------------------


def link_graph(
    rng: np.random.Generator,
    n: int,
    mean_links: float,
    zipf_a: float = 1.3,
    in_frac: float = 0.15,
    out_frac: float = 0.15,
    portals: int = 16,
) -> tuple[np.ndarray, np.ndarray]:
    """A bow-tie link graph over ``n`` pages, deduplicated.

    Pages other than page 0 are split by a seeded permutation into IN
    pages that nothing links to, OUT pages with no links of their own,
    and a core. The core is one strongly connected component of small
    diameter: page 0 (the main page) and ``portals`` list pages link to
    each other, every core page links to a random portal and is listed
    on one. IN and OUT pages are the trivial SCCs on either side.
    Beyond that, out-degrees are geometric with mean ``mean_links`` and
    each link's target is drawn by Zipf(``zipf_a``) popularity over the
    core and OUT pages (IN pages link into the core only). Returns
    ``(src, dst)`` sorted by ``(src, dst)``; self-links are kept.
    """
    perm = 1 + rng.permutation(n - 1).astype(np.int64)
    n_in, n_out = int(n * in_frac), int(n * out_frac)
    in_pages, out_pages = perm[:n_in], perm[n_in : n_in + n_out]
    core = np.concatenate([[0], perm[n_in + n_out :]])
    hubs = core[: portals + 1]  # page 0 and the portals
    members = core[portals + 1 :]
    # popularity order over link targets: core and OUT pages, shuffled
    targets = rng.permutation(np.concatenate([core, out_pages]))
    core_targets = rng.permutation(core)

    def links(pages, pool):
        deg = rng.geometric(1.0 / mean_links, size=pages.size) - 1
        src = np.repeat(pages, deg)
        ranks = rng.zipf(zipf_a, size=src.size)
        ranks = np.where(ranks > pool.size, rng.integers(1, pool.size + 1, size=src.size), ranks)
        return src, pool[ranks - 1]

    s_core, d_core = links(core, targets)
    s_in, d_in = links(in_pages, core_targets)
    hub_s, hub_d = np.meshgrid(hubs, hubs)
    listed_on = hubs[1 + rng.integers(0, portals, members.size)]
    links_to = hubs[1 + rng.integers(0, portals, members.size)]
    src = np.concatenate([hub_s.ravel(), listed_on, members, s_core, s_in])
    dst = np.concatenate([hub_d.ravel(), members, links_to, d_core, d_in])
    keep = src != dst  # hub self-pairs from the meshgrid only
    keep[hub_s.size :] = True
    pairs = np.unique(src[keep] * n + dst[keep])
    return pairs // n, pairs % n


# ---------------------------------------------------------------------------
# wiki dump
# ---------------------------------------------------------------------------

_FILLER = (
    "the of history city river music album film season club party "
    "station county village species war league award church school "
    "born population team island district series"
).split()
_INVALID = (
    "Image:Photo {i}.jpg",
    "File:Map {i}.png",
    "image:lower {i}.gif",
    "{{{{Template {i}}}}}",
    "Page {i}#History",
    "Page {i}<br>",
)


def _title(i: int) -> str:
    """Page titles; every 13th carries ``&``, every 29th quotes — all
    written as XML entities in the dump."""
    if i % 13 == 5:
        return f"Page {i} & Sons"
    if i % 29 == 7:
        return f"The \"Page\" {i}'s"
    return f"Page {i}"


def norm_title(title: str) -> str:
    return title.replace(" ", "_")


def build_wiki(root: str, seed: int, pages: int, mean_links: float) -> dict:
    rng = np.random.default_rng([seed, 1])
    src, dst = link_graph(rng, pages, mean_links)
    starts = np.searchsorted(src, np.arange(pages + 1))
    # per-link decoration draws, consumed in a fixed order
    u = rng.random(src.size)
    filler = rng.integers(0, len(_FILLER), size=(pages, 12))
    extras = rng.random((pages, 3))
    extra_ids = rng.integers(0, 10 * pages, size=(pages, 3))
    chunks = ["<mediawiki>\n"]
    for p in range(pages):
        title = _title(p)
        words = [_FILLER[k] for k in filler[p]]
        parts = [" ".join(words[:6])]
        targets = dst[starts[p] : starts[p + 1]]
        for j, t in enumerate(targets):
            name = _title(int(t))
            r = u[starts[p] + j]
            if r < 0.15:
                parts.append(f"[[{name}|{words[j % 12]} link]]")
            elif r < 0.20:
                parts.append(f"[[ {name} ]]")
            elif r < 0.25:
                parts.append(f"[[{name}]] and again [[{name}|same]]")
            else:
                parts.append(f"[[{name}]]")
        # red link, invalid link, and filler after the links
        if extras[p, 0] < 0.3:
            parts.append(f"[[Missing page {extra_ids[p, 0]}]]")
        if extras[p, 1] < 0.3:
            k = int(extra_ids[p, 1]) % len(_INVALID)
            parts.append("[[" + _INVALID[k].format(i=extra_ids[p, 2]) + "]]")
        parts.append(" ".join(words[6:]))
        text = " ".join(parts)
        chunks.append(
            "  <page>\n"
            f"    <title>{escape(title, {chr(34): '&quot;', chr(39): '&apos;'})}</title>\n"
            f"    <id>{p}</id>\n"
            "    <revision>\n"
            f'      <text xml:space="preserve">{escape(text)}</text>\n'
            "    </revision>\n"
            "  </page>\n"
        )
    chunks.append("</mediawiki>\n")
    # the engine reads every file of its input directory, so the dump
    # sits alone in dump/ and the true edges beside it
    os.makedirs(os.path.join(root, "dump"))
    with open(os.path.join(root, "dump", "dump.xml"), "w", encoding="utf-8") as fh:
        fh.write("".join(chunks))
    np.save(os.path.join(root, "true_edges.npy"), np.stack([src, dst]))
    return {"pages": pages, "true_edges": int(src.size)}


def wiki_edge_titles(root: str) -> tuple[list[str], np.ndarray, np.ndarray]:
    """The true edge set as ``(titles, src, dst)`` with titles in the
    normalized (underscore) form the engine emits."""
    src, dst = np.load(os.path.join(root, "true_edges.npy"))
    ids = np.unique(np.concatenate([src, dst]))
    titles = [norm_title(_title(int(i))) for i in ids]
    return titles, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def write_edges(root: str, src: np.ndarray, dst: np.ndarray) -> None:
    """A ``(src, dst)`` long edge list as ``root/edges.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root)
    pq.write_table(pa.table({"src": src, "dst": dst}), os.path.join(root, "edges.parquet"))


# ---------------------------------------------------------------------------
# test tables
# ---------------------------------------------------------------------------

_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_P_ADJ = "blue cold hot large new old red small".split()
_P_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _days(rng, n, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, size=n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def build_tables(root: str, seed: int, sf: float) -> dict:
    """The ten test tables at scale factor ``sf`` (lineitem has
    ~6M x sf rows), one Parquet file each, in the layout
    ``session.load_table`` reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 50)
    n_vec = max(int(20_000 * sf), 50)
    i32 = np.int32

    def fmt(prefix, keys):
        return [f"{prefix}#{k:09d}" for k in keys]

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nk = np.arange(25, dtype=i32)
    tables["nation"] = pa.table({
        "n_nationkey": nk,
        "n_name": [f"NATION_{k}" for k in nk],
        "n_regionkey": nk % 5,
    })
    ck = np.arange(n_cust, dtype=np.int64)
    tables["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": fmt("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype=np.int64)
    tables["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": fmt("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in _P_ADJ for b in _P_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.array(names)[rng.integers(0, 64, n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    tables["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2498),
    })
    ts = np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ) + np.datetime64("2024-01-01", "us").astype(np.int64)
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_DOC_WORDS)
    texts = []
    for d in range(n_doc):
        r = rng.random()
        if d > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        elif d > 10 and r < 0.053:  # exact duplicate
            texts.append(texts[int(rng.integers(0, d))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    dk = np.arange(n_doc, dtype=np.int64)
    tables["documents"] = pa.table({
        "doc_id": dk,
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, size=n_doc, p=_LANG_P)],
        "source": [f"src{k % 20}" for k in dk],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            np.arange(0, 64 * n_vec + 1, 64, dtype=np.int32), vec.ravel()
        ),
        "label": rng.integers(0, 10, n_vec).astype(i32),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
