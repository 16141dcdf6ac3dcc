"""Seeded input generators. Every byte the engine reads is made here from
the run's ``--seed``; the same seed gives the same files.

- probe lines in the F1 shape (``01 RH= +000.079 %RH T= +000.095 'C
  ID=0000001``), one file per spool drop, written atomically;
- a curation corpus: a seeded word chain (the "clean" language), planted
  spam, word salad the LM rejects, exact copies and near-copies of
  earlier documents, with the ground truth of every planted document;
- the labelled slices the NB classifier and the bigram LM are trained on;
- the star-schema tables the batch queries read, in the shape of the
  repository's sf test tables (TESTDATA.md).
"""

from __future__ import annotations

import json
import os

import numpy as np

PROBE_REGEX = (
    r"^(?P<level>\S+) RH= *(?P<rh>\S+) %RH T= *(?P<temp>\S+) .C ID=(?P<id>\d+)\s*$"
)


def probe_profile(pack_length: int, spool_dir: str = ""):
    """The F1 device profile: grouped by ``level:int``, the debug.conf regex."""
    from tower_parse_spark.plans.profile import DeviceProfile, GroupSpec

    return DeviceProfile(
        name="probe",
        regex=[PROBE_REGEX],
        group=GroupSpec("level", "int"),
        pack_length=pack_length,
        source="file" if spool_dir else "socket",
        spool_dir=spool_dir,
    )


def _probe_prefixes(rng: np.random.Generator, n: int):
    """*n* formatted line heads (everything before the id) and their levels."""
    levels = rng.integers(1, 3, n)
    rh = rng.uniform(-99.99, 99.99, n)
    temp = rng.uniform(-99.99, 99.99, n)
    prec = rng.integers(2, 4, n)
    heads = [
        f"{levels[i]:02d} RH= {rh[i]:+0{5 + prec[i]}.{prec[i]}f} %RH "
        f"T= {temp[i]:+0{5 + prec[i]}.{prec[i]}f} 'C ID="
        for i in range(n)
    ]
    return heads, levels


#: distinct line heads a spool file draws from (values repeat across lines;
#: ids never do)
PROBE_HEADS = 8192


def probe_lines(rng: np.random.Generator, start_id: int, n: int):
    """*n* F1 lines with ids ``start_id ..``; returns (text, levels)."""
    heads, head_levels = _probe_prefixes(rng, min(n, PROBE_HEADS))
    pick = rng.integers(0, len(heads), n)
    text = "".join(
        [f"{heads[j]}{start_id + i:07d}\n" for i, j in enumerate(pick.tolist())]
    )
    return text, head_levels[pick]


def write_atomic(path: str, text: str) -> None:
    """Write to a dot-prefixed sibling (the file source skips hidden files)
    and rename into place, so a reader never sees a partial file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)


def write_probe_file(path: str, rng, start_id: int, n: int) -> np.ndarray:
    """One spool file of *n* probe lines; returns each line's level."""
    text, levels = probe_lines(rng, start_id, n)
    write_atomic(path, text)
    return levels


# ---------------------------------------------------------------------------
# Curation corpus
# ---------------------------------------------------------------------------

_SYLLABLES = [
    "ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "du", "ga", "hi",
    "jo", "ku", "le", "ma", "no", "pe", "ra", "si", "to", "vu", "ze", "ba",
]


class Corpus:
    """A seeded document language: *vocab* words, each with *succ*
    successor words. "Clean" text walks the chain, so an LM trained on a
    slice of it knows every bigram; spam draws from a disjoint vocabulary;
    word salad draws clean words in random order (NB accepts it, the LM
    does not)."""

    def __init__(self, seed: int, vocab: int = 1000, succ: int = 2, spam_vocab: int = 60):
        self.rng = np.random.default_rng(seed)
        words: set[str] = set()
        while len(words) < vocab:
            k = int(self.rng.integers(2, 5))
            words.add("".join(self.rng.choice(_SYLLABLES, k)))
        self.words = sorted(words)
        self.succ = self.rng.integers(0, vocab, (vocab, succ))
        self.spam = [f"zz{w}" for w in self.rng.choice(self.words, spam_vocab, replace=False)]

    def _walk(self, start: int, n: int) -> list[int]:
        out = [start]
        picks = self.rng.integers(0, self.succ.shape[1], n)
        for i in range(n - 1):
            out.append(int(self.succ[out[-1], picks[i]]))
        return out

    def clean(self, n_words: int | None = None) -> str:
        n = n_words or int(self.rng.integers(20, 41))
        return " ".join(self.words[i] for i in self._walk(int(self.rng.integers(len(self.words))), n))

    def spam_doc(self) -> str:
        n = int(self.rng.integers(20, 41))
        return " ".join(self.rng.choice(self.spam, n))

    def salad(self) -> str:
        n = int(self.rng.integers(20, 41))
        return " ".join(self.rng.choice(self.words, n))

    def near_copy(self, text: str) -> str:
        """Drop the last three words and continue the chain for four new
        ones: most word 3-grams survive, every bigram stays known, and the
        copy is one word longer, so never identical."""
        toks = text.split()[:-3]
        last = self.words.index(toks[-1])
        tail = self._walk(last, 5)[1:]
        return " ".join(toks + [self.words[i] for i in tail])


def curation_stream(corpus: Corpus, epochs: int, docs_per_epoch: int):
    """Epoch files of ``{"doc_id", "text"}`` rows plus ground truth:
    kind per doc_id in {novel, spam, salad, copy, near}, and each copy's
    source doc_id. Copies draw only from earlier epochs' novel docs."""
    rng = corpus.rng
    epochs_out, kind, source = [], {}, {}
    novel_pool: list[tuple[int, str]] = []
    doc_id = 0
    for e in range(epochs):
        rows = []
        draws = rng.random(docs_per_epoch)
        for d in draws:
            if d < 0.10:
                k, text = "spam", corpus.spam_doc()
            elif d < 0.15:
                k, text = "salad", corpus.salad()
            elif d < 0.20 and novel_pool:
                src_id, src = novel_pool[int(rng.integers(len(novel_pool)))]
                k, text = "copy", src
                source[doc_id] = src_id
            elif d < 0.25 and novel_pool:
                src_id, src = novel_pool[int(rng.integers(len(novel_pool)))]
                k, text = "near", corpus.near_copy(src)
                source[doc_id] = src_id
            else:
                k, text = "novel", corpus.clean()
            kind[doc_id] = k
            rows.append((doc_id, text))
            doc_id += 1
        novel_pool.extend((i, t) for i, t in rows if kind[i] == "novel")
        epochs_out.append(rows)
    return epochs_out, kind, source


def jsonl(rows) -> str:
    return "".join(json.dumps({"doc_id": i, "text": t}) + "\n" for i, t in rows)


def training_slices(corpus: Corpus, n_clean: int, n_spam: int, n_lm: int):
    """(NB labelled rows, LM reference rows): clean vs spam for the
    classifier, a clean-only slice for the LM."""
    labelled = [(True, corpus.clean()) for _ in range(n_clean)] + [
        (False, corpus.spam_doc()) for _ in range(n_spam)
    ]
    ref = [(i, corpus.clean()) for i in range(n_lm)]
    return labelled, ref


# ---------------------------------------------------------------------------
# Batch tables (the star-schema shape of the sf test tables)
# ---------------------------------------------------------------------------

_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "SMALL", "STANDARD", "PROMO"]
_COLORS = ["red", "blue", "green", "small", "large", "shiny"]
_THINGS = ["ring", "widget", "bolt", "gear", "panel", "valve"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _days(rng, start: str, days: int, n: int):
    return np.datetime64(start, "us") + rng.integers(0, days, n).astype("timedelta64[D]")


def batch_tables(seed: int, out_dir: str, scale: float) -> dict[str, int]:
    """Write the tables the batch mix reads, at *scale* (1.0 = the sf0.01
    test tables' row counts), as single parquet files; returns row counts."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    n_cust = int(1500 * scale)
    n_supp = max(25, int(100 * scale))
    n_part = int(2000 * scale)
    n_ord = int(15000 * scale)
    n_li = int(60000 * scale)
    n_emb = int(500 * scale)
    tables = {
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [
                    f"{rng.choice(_COLORS)} {rng.choice(_THINGS)}"
                    for _ in range(n_part)
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(_PTYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
                "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
                "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
            }
        ),
    }
    li_order = np.sort(rng.integers(0, n_ord, n_li))
    linenumber = np.ones(n_li, dtype="int32")
    for i in range(1, n_li):
        if li_order[i] == li_order[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": li_order.astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2500, n_li),
        }
    )
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = centers[labels] + rng.normal(0, 0.6, (n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": list(emb.astype("float32")),
            "label": labels.astype("int32"),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}
