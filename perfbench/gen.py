"""Seeded input generators for the benchmark.

Two kinds of input, each a pure function of (seed, size):

* ``tables(dir, seed, sf)`` writes the ten parquet tables the battery
  queries read (TPC-H-like star schema plus ``events``, ``documents``
  and ``embeddings``), one single-row-group file per table, with the
  column names, types and value domains the battery expects.
* ``wiki_dump(path, seed, mb)`` writes one MediaWiki XML file shaped
  like an itwiki pages-articles dump. Its link text carries every quirk
  the link rules handle: piped links, namespace needles matched as
  substrings (``s:`` included), links broken by a newline, commas and
  stray brackets, self-links, repeated links within a page and
  non-ASCII titles.

``cached(root, kind, seed, size, build)`` memoizes a generated input
directory by its key and keeps only the newest few per kind.
"""
import os
import shutil
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "the", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000


def _days(start, n_days, rng, n):
    """n timestamps at day granularity in [start, start + n_days)."""
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, n_days, n) * DAY_US,
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"),
                   row_group_size=1 << 30)


def tables(d, seed, sf):
    """Write the battery's ten tables at scale factor ``sf`` into ``d``.
    Row counts follow sf: lineitem 6M*sf, orders 1.5M*sf, ..."""
    rng = np.random.default_rng(seed)
    os.makedirs(d, exist_ok=True)
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), max(int(10_000 * sf), 25), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), min(int(50_000 * sf), 2000), int(15_000 * sf)

    _write(d, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(d, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(d, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(d, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) / 10.0, 1)
    _write(d, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    _write(d, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lpart = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(d, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": lpart,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[lpart] * rng.uniform(0.98, 1.02, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", 2499, rng, n_line)})
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(ts0 + rng.integers(0, 30 * DAY_US, n_ev))
    _write(d, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.lognormal(3.0, 1.2, n_ev), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:          # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.10:        # near duplicate: one token inserted
            toks = texts[int(rng.integers(0, i))].split()
            toks.insert(int(rng.integers(0, len(toks) + 1)), "dup")
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 101)))))
    _write(d, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_emb, 64))).astype(np.float32)
    _write(d, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# --- wiki dump --------------------------------------------------------------

STEMS = ["Roma", "Medioevo", "Firenze", "Dante Alighieri", "Italia", "Milano",
         "Lingua latina", "Impero romano", "Rinascimento", "Venezia", "Napoli",
         "Città del Vaticano", "Università", "Perù", "Åland", "Ærø", "Ölüdeniz",
         "Zürich", "Éire", "Ñandú", "日本", "Ελλάδα", "Москва", "Genesi",
         "Sicilia", "Torino", "Galileo Galilei", "Stato", "Arte", "Musica"]
# Targets the namespace filter must drop: each holds one needle as a
# substring (not only as a prefix), including the short "s:" needle.
BANNED = ["File:Mappa.png", "Categoria:Storia", "Category:History",
          "Aiuto:Indice", "Genesis: storia", "Image:Foto.jpg",
          "Immagine:Ritratto.jpg", "Vedi File:Altro.svg", "Wikisource:Testo"]
FILLER = ("Lorem ipsum dolor sit amet, consectetur adipiscing elit; "
          "sed do eiusmod tempor & incididunt <ut> labore. ").split(" ")


def _esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def wiki_titles(seed, n):
    rng = np.random.default_rng(seed)
    return [f"{STEMS[i % len(STEMS)]} {i // len(STEMS)}" if i >= len(STEMS)
            else STEMS[i] for i in rng.permutation(n)]


# Link shapes, chosen by cumulative probability; {t} is a random
# title, {s} the page's own title, {w} the first word of {t}.
LINK_SHAPES = [
    (0.45, "[[{t}]]"),
    (0.60, "[[{t}|{w}]]"),                 # piped
    (0.68, None),                          # namespace needle: BANNED
    (0.73, "[[{t}, {w}]]"),                # comma, stripped by cleanup
    (0.77, "[[[{t}]]"),                    # stray bracket
    (0.81, "[[ {t} |x]]"),                 # padded, trimmed
    (0.85, "[[{w}\n{t}]]"),               # newline inside: never matches
    (0.89, "[[{s}]]"),                     # self-link
    (0.92, "[[ , ]]"),                     # empty after cleanup
    (1.00, "[[{t}]] [[{t}]]"),             # repeated within the page
]


def wiki_dump(path, seed, mb, n_titles=20000):
    """Write one XML dump of about ``mb`` megabytes to ``path``."""
    rng = np.random.default_rng(seed + 7919)
    titles = wiki_titles(seed, n_titles)
    firsts = [t.split()[0] for t in titles]
    cuts = np.array([c for c, _ in LINK_SHAPES])
    target = mb * 1_000_000
    n = 1 << 16                       # random draws are made in blocks
    with open(path, "w", encoding="utf-8") as f:
        f.write('<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" '
                'xml:lang="it">\n  <siteinfo><sitename>Wikipedia</sitename>'
                '</siteinfo>\n')
        page = 0
        while f.tell() < target:
            shape = np.searchsorted(cuts, rng.random(n), side="right")
            tgt = rng.integers(0, n_titles, n)
            ban = rng.integers(0, len(BANNED), n)
            fill = rng.integers(0, len(FILLER), (n, 6))
            brk = rng.random(n) < 0.2
            per_page = rng.integers(5, 60, n // 5)
            at = 0
            for k in per_page:
                if at + k > n or f.tell() >= target:
                    break
                title = titles[page % n_titles] + (
                    f" ({page // n_titles})" if page >= n_titles else "")
                parts = []
                if k % 50 != 7:      # about 2 % of pages have empty text
                    for i in range(at, at + k):
                        parts.append(" ".join(FILLER[j] for j in fill[i]))
                        tmpl = LINK_SHAPES[shape[i]][1]
                        parts.append(f"[[{BANNED[ban[i]]}]]" if tmpl is None else
                                     tmpl.format(t=titles[tgt[i]], w=firsts[tgt[i]], s=title))
                        if brk[i]:
                            parts.append("\n")
                at += k
                text = " ".join(parts)
                pad = " " if k % 20 == 3 else ""
                f.write(f"  <page>\n    <title>{pad}{_esc(title)}{pad}</title>\n"
                        f"    <ns>0</ns>\n    <id>{page + 1}</id>\n    <revision>\n"
                        f"      <id>{page + 100000}</id>\n"
                        f'      <text bytes="{len(text)}" xml:space="preserve">'
                        f"{_esc(text)}</text>\n    </revision>\n  </page>\n")
                page += 1
        f.write("</mediawiki>\n")


# --- cache ------------------------------------------------------------------

def cached(root, kind, seed, size, build, keep=3):
    """Directory holding input ``kind`` for (seed, size), built once by
    ``build(dir)``. Older entries of the same kind beyond ``keep`` go."""
    os.makedirs(root, exist_ok=True)
    d = os.path.join(root, f"{kind}-{size}-s{seed}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, ".done"), "w").close()
        os.rename(tmp, d)
    os.utime(d)
    mine = sorted((e for e in os.listdir(root) if e.startswith(kind + "-")
                   and not e.endswith(".tmp")),
                  key=lambda e: os.path.getmtime(os.path.join(root, e)))
    for old in mine[:-keep]:
        if os.path.join(root, old) != d:
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return d
