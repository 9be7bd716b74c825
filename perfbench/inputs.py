"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed``: the same seed yields
byte-identical inputs, a different seed different ones. The program
under test only ever sees the generated bytes.
"""

from __future__ import annotations

import itertools
import json
import random
from collections.abc import Iterator

# Word pools. Product names draw from one pool; corpus documents draw
# from a second one, and the decontamination eval set from a third that
# shares no word with the second, so a clean document shares no n-gram
# with the eval set unless one is planted.
_ADJ = ["crunchy", "organic", "smoked", "spicy", "sweet", "roasted", "salted",
        "creamy", "golden", "wild", "fresh", "dark", "light", "classic"]
_NOUN = ["peanut", "butter", "cocoa", "oat", "almond", "honey", "tomato",
         "lentil", "cheddar", "yogurt", "granola", "pasta", "rice", "olive"]
_CATS = ["en:spreads", "en:snacks", "en:breakfasts", "en:dairies",
         "en:beverages", "en:sauces", "en:cereals"]

#: 2% of delivery records are invalid (rejected by validation).
INVALID_SHARE = 0.02


def _words(rng: random.Random, n: int, alphabet: str, length: tuple[int, int]) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(alphabet) for _ in range(rng.randint(*length))))
    return sorted(words)


# ---------------------------------------------------------------- products


def product_code(i: int) -> str:
    """Existing/new product codes: 13 digits, leading zeros significant."""
    return f"{i:013d}"


#: Codes with this prefix are never generated: code-miss lookups use them.
MISS_PREFIX = "9"


def _product_record(rng: random.Random, code: str, serial: int) -> dict:
    rec: dict = {
        "code": code,
        "product_name": f"{rng.choice(_ADJ)} {rng.choice(_NOUN)} {serial}",
    }
    # attribute shapes vary: strings, nested objects, arrays, numbers,
    # nulls, external ids (dropped by the engine)
    if rng.random() < 0.8:
        rec["brands"] = f"Brand{rng.randrange(97)}"
    if rng.random() < 0.6:
        rec["nutriments"] = {
            "fat_100g": round(rng.random() * 50, 2),
            "salt_100g": rng.randrange(3),
        }
    if rng.random() < 0.5:
        rec["categories_tags"] = rng.sample(_CATS, rng.randint(1, 3))
    if rng.random() < 0.4:
        rec["serving_quantity"] = rng.randrange(1, 400)
    if rng.random() < 0.1:
        rec["labels"] = None
    if rng.random() < 0.1:
        rec["id"] = f"ext-{serial}"
        rec["_id"] = f"int-{serial}"
    return rec


def _invalid_record(rng: random.Random, serial: int) -> dict:
    kind = rng.randrange(3)
    if kind == 0:
        return {"product_name": f"nameless {serial}"}  # missing code
    if kind == 1:
        return {"code": serial, "product_name": f"numeric {serial}"}  # non-string code
    return {"code": product_code(serial), "product_name": serial}  # non-string name


def product_deliveries(seed: int, n_records: int) -> Iterator[bytes]:
    """Openfoodfacts-style JSON arrays of ``n_records`` each, made as
    they are taken. The first is the base (all new codes); in every
    later one half the records update codes already delivered and half
    are new. About
    2% of each delivery is invalid, and a few codes repeat inside one
    file (the later occurrence wins)."""
    rng = random.Random(f"deliveries:{seed}")
    known: list[str] = []
    next_code = 0
    serial = 0
    for d in itertools.count():
        recs: list[dict] = []
        n_update = 0 if d == 0 else n_records // 2
        for code in rng.sample(known, n_update):
            serial += 1
            recs.append(_product_record(rng, code, serial))
        new_codes = []
        while len(recs) < n_records:
            serial += 1
            code = product_code(next_code)
            next_code += 1
            new_codes.append(code)
            recs.append(_product_record(rng, code, serial))
        for _ in range(max(1, n_records // 500)):  # intra-file repeats
            serial += 1
            recs.append(_product_record(rng, rng.choice(recs[: n_records // 2])["code"], serial))
        for _ in range(int(n_records * INVALID_SHARE)):
            serial += 1
            recs.insert(rng.randrange(len(recs)), _invalid_record(rng, serial))
        known.extend(new_codes)
        yield json.dumps(recs, separators=(",", ":")).encode()


READ_KINDS = ("code_hit", "code_miss", "exact", "partial", "status")


def partial_terms() -> list[str]:
    return list(_NOUN)


# ------------------------------------------------------------------ corpus

#: Planted shares of a corpus batch. The rest are clean unique docs.
CORPUS_SHARES = {"quality": 0.08, "contaminated": 0.07, "exact": 0.08, "near": 0.07}
EVAL_DOCS = 40


def corpus_inputs(seed: int, n_docs: int, dim: int = 32) -> dict:
    """One corpus batch plus its eval set and embeddings.

    Returns ``docs`` (doc_id, text, kind) in id order, ``eval`` texts,
    ``embeddings`` (one vector per doc id) and ``queries`` (BM25 term
    lists and query vectors). Planted kinds:

    - ``quality``: too few tokens for the quality gate (min 20);
    - ``contaminated``: a clean doc carrying a 12-word span of an eval doc;
    - ``exact``: the verbatim text of a lower-id clean doc;
    - ``near``: a lower-id clean doc's text plus one appended word
      (Jaccard of word 3-shingles ≈ 0.98, far above the 0.8 gate);
    - ``clean``: 30–60 words drawn at random, pairwise far apart.
    """
    rng = random.Random(f"corpus:{seed}")
    vocab = _words(rng, 1500, "bcdfghklmnprstvz", (4, 7))
    eval_vocab = _words(rng, 300, "aeiouyqwxj", (4, 7))
    evals = [" ".join(rng.choice(eval_vocab) for _ in range(30)) for _ in range(EVAL_DOCS)]

    kinds: list[str] = []
    for kind, share in CORPUS_SHARES.items():
        kinds += [kind] * int(n_docs * share)
    kinds += ["clean"] * (n_docs - len(kinds))
    rng.shuffle(kinds)
    # the first docs are always clean, so every dup has a lower-id original
    for i in range(min(20, n_docs)):
        if kinds[i] != "clean":
            j = kinds.index("clean", 20)
            kinds[i], kinds[j] = kinds[j], kinds[i]

    docs: list[tuple[int, str, str]] = []
    clean_ids: list[int] = []
    used_originals: set[int] = set()
    for i, kind in enumerate(kinds):
        if kind == "quality":
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 14)))
        elif kind in ("exact", "near"):
            orig = rng.choice([c for c in clean_ids[-50:] if c not in used_originals] or clean_ids)
            used_originals.add(orig)
            text = docs[orig][1]
            if kind == "near":
                text = f"{text} {rng.choice(vocab)}"
        else:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(30, 60)))
            if kind == "contaminated":
                ev = rng.choice(evals).split()
                at = rng.randrange(len(ev) - 12)
                words = text.split()
                cut = rng.randrange(len(words))
                text = " ".join(words[:cut] + ev[at : at + 12] + words[cut:])
            else:
                clean_ids.append(i)
        docs.append((i, text, kind))

    vecs = [[round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(n_docs)]
    queries = []
    for _ in range(8):
        src = docs[rng.choice(clean_ids)][1].split()
        terms = sorted(set(rng.sample(src, 3)))
        qv = [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)]
        queries.append({"terms": terms, "vec": qv})
    return {"docs": docs, "eval": evals, "embeddings": vecs, "queries": queries, "dim": dim}
