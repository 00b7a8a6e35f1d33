"""Seeded input generators for the benchmark workloads.

Everything a workload feeds the engine is produced here from the run's
``--seed``: the TPC-H-shaped parquet tables behind the SPARQL workloads,
the N-Quads file and its state model behind ``graph_update``, and the
document corpus (with planted duplicates) behind ``llm_dedup``. The same
seed gives byte-identical files and query streams (tests/test_selfcheck.py).

Money-like doubles are multiples of 0.25 so that every SUM the queries
ask for is exact in binary floating point: the oracle (DuckDB) and the
engine may add in different orders and still agree bit for bit.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [  # (name, region) as in TPC-H
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a stream never
    shifts the values another stream draws."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def _quarters(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n) * 4.0) / 4.0


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tpch_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the seven TPC-H-shaped tables the relational store maps
    (kineo_spark.store.TABLES) at scale factor ``sf``; returns row counts.

    As in TPC-H, customers whose key is a multiple of 3 place no orders,
    so MINUS / NOT EXISTS queries have non-empty answers."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "tpch")
    n_c, n_s = int(150_000 * sf), max(int(10_000 * sf), 25)
    n_p, n_o = int(200_000 * sf), int(1_500_000 * sf)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32())})
    ck = np.arange(1, n_c + 1, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": ck, "c_name": _names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _quarters(rng, -999.0, 9999.0, n_c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)]})
    sk = np.arange(1, n_s + 1, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": sk, "s_name": _names("Supplier", sk),
        "s_nationkey": (np.arange(n_s) % 25).astype(np.int32),
        "s_acctbal": _quarters(rng, -999.0, 9999.0, n_s)})
    pk = np.arange(1, n_p + 1, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk, "p_name": _names("Part", pk),
        "p_brand": np.char.add("Brand#", rng.integers(11, 56, n_p).astype(str)),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": _quarters(rng, 900.0, 2100.0, n_p)})
    buyers = ck[ck % 3 != 0]
    ok = np.arange(1, n_o + 1, dtype=np.int64)
    day0 = np.datetime64("1992-01-01", "us")
    odays = rng.integers(0, 2400, n_o)
    _write(out_dir, "orders", {
        "o_orderkey": ok, "o_custkey": buyers[rng.integers(0, len(buyers), n_o)],
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _quarters(rng, 1000.0, 400_000.0, n_o),
        "o_orderdate": pa.array(day0 + odays * np.timedelta64(86_400_000_000, "us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)]})
    lines_per = rng.integers(1, 8, n_o)
    lo = np.repeat(ok, lines_per)
    n_l = len(lo)
    first = np.cumsum(lines_per) - lines_per
    lnum = np.arange(n_l) - np.repeat(first, lines_per) + 1
    ship = np.repeat(odays, lines_per) + rng.integers(1, 120, n_l)
    _write(out_dir, "lineitem", {
        "l_orderkey": lo, "l_partkey": rng.integers(1, n_p + 1, n_l),
        "l_suppkey": rng.integers(1, n_s + 1, n_l),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _quarters(rng, 900.0, 100_000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": pa.array(day0 + ship * np.timedelta64(86_400_000_000, "us"))})
    return {"customer": n_c, "supplier": n_s, "part": n_p, "orders": n_o,
            "lineitem": n_l}


GRAPH_P = "urn:bench:p:"
GRAPH_LANGS = ["en", "de", "fr"]
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"


class GraphBase:
    """The generated graph: entity i is <urn:bench:e{i}>, and all its
    quads are in the named graph <urn:bench:g{graph[i]}>."""

    def __init__(self, seed: int, n_entities: int):
        rng = rng_for(seed, "graph")
        n = n_entities
        self.n = n
        self.graph = rng.integers(0, 4, n)
        self.age = rng.integers(0, 100, n)
        self.label = rng.integers(0, 5000, n)
        self.lang = rng.integers(0, len(GRAPH_LANGS), n)
        self.knows = rng.integers(0, n, n)
        self.has_addr = np.arange(n) % 4 == 1
        self.city = rng.integers(0, 300, n)

    def graph_iri(self, i: int) -> str:
        return f"urn:bench:g{self.graph[i]}"

    def write_nquads(self, path: str) -> int:
        """N-Quads with plain, typed and language-tagged literals, blank
        nodes and four named graphs."""
        p = GRAPH_P
        lines = []
        for i in range(self.n):
            gs = f" <{self.graph_iri(i)}>"
            s = f"<urn:bench:e{i}>"
            lines.append(f'{s} <{p}name> "Name {i}"{gs} .')
            lines.append(f'{s} <{p}age> "{self.age[i]}"^^<{XSD_INTEGER}>{gs} .')
            lines.append(f'{s} <{p}label> "w{self.label[i]}"@{GRAPH_LANGS[self.lang[i]]}{gs} .')
            lines.append(f'{s} <{p}knows> <urn:bench:e{self.knows[i]}>{gs} .')
            if self.has_addr[i]:
                lines.append(f'{s} <{p}addr> _:a{i}{gs} .')
                lines.append(f'_:a{i} <{p}city> "City {self.city[i]}"{gs} .')
        with open(path, "w") as fh:
            fh.write("\n".join(lines))
            fh.write("\n")
        return len(lines)


CORPUS_STOPWORDS = {  # unambiguous subsets of pipeline.text.LANG_STOPWORDS
    "en": ["the", "and", "of", "to"], "es": ["el", "que", "y"],
    "fr": ["le", "et", "un"], "de": ["der", "die", "und", "das"],
}


class Corpus:
    """Documents with planted duplicates and low-quality spam.

    Each base document is random vocabulary words (5-10 letters, so no
    word is a stopword) with one language's stopwords mixed in. A family
    is a base document plus at most one variant: an exact copy that
    differs only in whitespace, or a near copy with one word replaced
    (3-shingle Jaccard >= 0.85). Spam documents are five 20-digit
    tokens: they fail every quality rule and carry no language."""

    DUP_FRAC = 0.08   # of base documents get an exact copy; as many a near copy

    def __init__(self, seed: int, n_base: int):
        rng = rng_for(seed, "corpus")
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = ["".join(letters[rng.integers(0, 26, int(k))])
                 for k in rng.integers(5, 11, 4000)]
        langs = sorted(CORPUS_STOPWORDS)
        docs: list[tuple[str, str | None]] = []     # (text, lang)
        families: list[tuple[int, int, str]] = []   # (doc, variant, kind)
        for _ in range(n_base):
            lang = langs[int(rng.integers(0, len(langs)))]
            sw = CORPUS_STOPWORDS[lang]
            words = [vocab[k] for k in rng.integers(0, len(vocab), int(rng.integers(40, 80)))]
            for pos in rng.integers(0, len(words), len(words) // 6):
                words.insert(int(pos), sw[int(rng.integers(0, len(sw)))])
            docs.append((" ".join(words), lang))
            u = rng.random()
            if u < self.DUP_FRAC:
                docs.append(("  " + "   ".join(words) + " ", lang))
                families.append((len(docs) - 2, len(docs) - 1, "exact"))
            elif u < 2 * self.DUP_FRAC:
                w = list(words)
                j = int(rng.integers(0, len(w)))
                w[j] = vocab[int(rng.integers(0, len(vocab)))] + "x"
                docs.append((" ".join(w), lang))
                families.append((len(docs) - 2, len(docs) - 1, "near"))
        for _ in range(n_base // 20):
            digits = rng.integers(0, 10, (5, 20))
            docs.append((" ".join("".join(map(str, r)) for r in digits.tolist()), None))
        # ids are a seeded permutation, so families are not adjacent
        ids = rng.permutation(len(docs))
        self.ids = ids
        self.texts = [t for t, _ in docs]
        self.langs = [lang for _, lang in docs]
        self.exact_groups = {min(int(ids[a]), int(ids[b])): 2
                             for a, b, k in families if k == "exact"}
        self.near_pairs = {tuple(sorted((int(ids[a]), int(ids[b])))) for a, b, _ in families}
        self.kept = {(int(ids[i]), lang) for i, lang in enumerate(self.langs) if lang}

    def write(self, path: str) -> int:
        pq.write_table(pa.table({
            "doc_id": pa.array(self.ids, pa.int64()), "text": self.texts}), path)
        return len(self.texts)


def embeddings(path: str, seed: int, n: int, n_queries: int, dim: int = 32) -> dict[int, int]:
    """Random unit-ish vectors; vectors 0..n_queries-1 each have one
    planted twin (itself plus 1% noise) elsewhere in the table. Returns
    query id -> twin id."""
    rng = rng_for(seed, "embed")
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    twins = rng.choice(np.arange(n_queries, n), n_queries, replace=False)
    vecs[twins] = vecs[:n_queries] + 0.01 * rng.standard_normal((n_queries, dim)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}), path)
    return {q: int(t) for q, t in enumerate(twins.tolist())}
