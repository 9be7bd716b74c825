"""Ground truth and answer checks. Pure Python, no Spark: each check
returns a list of error strings, empty when the answer is right."""

from __future__ import annotations

import json
import math

# ---------------------------------------------------------------- products


def canon(value) -> str:
    """The engine's canonical JSON for attrs values."""
    return json.dumps(value, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def record_valid(rec) -> bool:
    return (
        isinstance(rec, dict)
        and isinstance(rec.get("code"), str)
        and (rec.get("product_name") is None or isinstance(rec.get("product_name"), str))
    )


class ProductModel:
    """The products table as the reference's ordered ``$set`` upsert
    defines it: per code the latest record's spine fields win, extra
    fields present only in older records survive; ``id``/``_id`` are
    dropped; invalid records are counted and not stored."""

    def __init__(self):
        self.rows: dict[str, dict] = {}
        self.by_name: dict[str | None, set[str]] = {}

    def apply(self, payload: bytes, file_id: str) -> dict:
        recs = json.loads(payload)
        valid = 0
        for rec in recs:
            if not record_valid(rec):
                continue
            valid += 1
            code = rec["code"]
            old = self.rows.get(code)
            attrs = dict(old["attrs"]) if old else {}
            attrs.update(
                {k: canon(v) for k, v in rec.items() if k not in ("code", "product_name", "id", "_id")}
            )
            name = rec.get("product_name")
            if old is not None:
                self.by_name[old["product_name"]].discard(code)
            self.by_name.setdefault(name, set()).add(code)
            self.rows[code] = {"product_name": name, "file_id": file_id, "attrs": attrs}
        total = len(recs)
        return {
            "total_records": total,
            "records_processed": valid,
            "records_failed": total - valid,
            "status": "processed_with_errors" if total > valid else "processed",
        }

    def expected_product(self, code: str) -> dict | None:
        row = self.rows.get(code)
        if row is None:
            return None
        out = {"code": code, "product_name": row["product_name"], "file_id": row["file_id"]}
        out.update({k: json.loads(v) for k, v in row["attrs"].items()})
        return out

    def partial_matches(self, term: str) -> set[str]:
        t = term.lower()
        return {
            c for name, codes in self.by_name.items()
            if name is not None and t in name.lower() for c in codes
        }


def _product_errors(got: dict, want: dict) -> list[str]:
    got = {k: v for k, v in got.items() if k != "last_modified_at_company"}
    if got != want:
        keys = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        return [f"product {want.get('code')}: fields {keys} differ"]
    return []


def check_find_code(status: int, body: dict, want: dict | None) -> list[str]:
    if want is None:
        return [] if status == 404 else [f"code miss answered {status}"]
    if status != 200:
        return [f"code {want['code']} answered {status}"]
    return _product_errors(body, want)


def check_find_exact(status: int, body: dict, term: str, model: ProductModel) -> list[str]:
    if status != 200:
        return [f"exact {term!r} answered {status}"]
    got = {p["code"] for p in body["products"]}
    want = model.by_name.get(term, set())
    errs = [] if got == want else [f"exact {term!r}: {len(got)} codes, expected {len(want)}"]
    for p in body["products"]:
        if p["code"] in want:
            errs += _product_errors(p, model.expected_product(p["code"]))
    return errs


def check_find_partial(status: int, body: dict, term: str, model: ProductModel) -> list[str]:
    if status != 200:
        return [f"partial {term!r} answered {status}"]
    matches = model.partial_matches(term)
    products = body["products"]
    errs = []
    if len(products) != min(20, len(matches)):
        errs.append(f"partial {term!r}: {len(products)} products, expected {min(20, len(matches))}")
    codes = [p["code"] for p in products]
    if len(set(codes)) != len(codes):
        errs.append(f"partial {term!r}: repeated codes")
    for p in products:
        if p["code"] not in matches:
            errs.append(f"partial {term!r}: {p['code']} does not match")
        else:
            errs += _product_errors(p, model.expected_product(p["code"]))
    return errs


_WIRE_STATUS = {"uploaded": "uploaded - waiting for processing"}


def check_status(status: int, body: dict, want: dict) -> list[str]:
    if status != 200:
        return [f"status answered {status}"]
    errs = []
    for k, v in want.items():
        v = _WIRE_STATUS.get(v, v) if k == "status" else v
        if body.get(k) != v:
            errs.append(f"status {k}: {body.get(k)!r}, expected {v!r}")
    return errs


def check_table(rows: list[dict], model: ProductModel, n_rows: int) -> list[str]:
    """``rows``: API-shaped products for a sample of codes; ``n_rows``:
    the table's row count."""
    errs = [] if n_rows == len(model.rows) else [f"table has {n_rows} rows, expected {len(model.rows)}"]
    for r in rows:
        want = model.expected_product(r["code"])
        errs += [f"unexpected code {r['code']}"] if want is None else _product_errors(r, want)
    return errs


# ------------------------------------------------------------------ corpus


def expected_kept(docs: list[tuple[int, str, str]]) -> set[int]:
    """Every planted reject, contaminated doc and duplicate is dropped;
    the lower-id original of each duplicate is kept."""
    return {i for i, _text, kind in docs if kind == "clean"}


def check_kept(got: set[int], want: set[int]) -> list[str]:
    if got == want:
        return []
    return [f"kept docs: {len(got - want)} unexpected, {len(want - got)} missing"]


_K1, _B = 1.2, 0.75


def bm25_reference(texts: dict[int, str], terms: list[str], k: int) -> list[tuple[int, float]]:
    """Okapi BM25 (k1=1.2, b=0.75, idf = ln((N-df+.5)/(df+.5)+1)) over
    space-split tokens; top ``k`` by (score desc, id), scores rounded to
    6 places."""
    toks = {i: [w for w in t.split(" ") if w] for i, t in texts.items()}
    lens = [len(v) for v in toks.values() if v]
    n_docs, avgdl = len(toks), sum(lens) / len(lens)
    tset = set(terms)
    df = {t: sum(1 for v in toks.values() if t in v) for t in tset}
    scores: dict[int, float] = {}
    for i, v in toks.items():
        s = 0.0
        hit = False
        for t in sorted(tset):
            tf = v.count(t)
            if tf:
                hit = True
                idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                s += idf * (tf * (_K1 + 1.0)) / (tf + _K1 * (1.0 - _B + _B * len(v) / avgdl))
        if hit:
            scores[i] = round(s, 6)
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def check_ranked(got: list[tuple[int, float]], want: list[tuple[int, float]], what: str, tol: float = 2e-6) -> list[str]:
    """Same length, same scores within ``tol`` rank by rank, and the same
    ids except where scores tie."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} results, expected {len(want)}"]
    errs = []
    for r, ((gi, gs), (wi, ws)) in enumerate(zip(got, want)):
        if abs(gs - ws) > tol:
            errs.append(f"{what} rank {r + 1}: score {gs}, expected {ws}")
        elif gi != wi and not any(i == gi and abs(s - gs) <= tol for i, s in want):
            errs.append(f"{what} rank {r + 1}: doc {gi}, expected {wi}")
    return errs


def cosine(a: list[float], b: list[float]) -> float:
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))


def true_topk(vecs: list[list[float]], q: list[float], k: int) -> list[int]:
    sims = sorted(((cosine(v, q), i) for i, v in enumerate(vecs)), key=lambda t: (-t[0], t[1]))
    return [i for _, i in sims[:k]]


def check_ann(got: list[tuple[int, float]], vecs: list[list[float]], q: list[float], k: int, what: str) -> list[str]:
    """ANN answers may miss true neighbours (that is recall, reported
    separately) but every returned id must exist, appear once, carry its
    true cosine, and come in descending order."""
    errs = []
    if not got or len(got) > k:
        errs.append(f"{what}: {len(got)} results for k={k}")
    ids = [i for i, _ in got]
    if len(set(ids)) != len(ids):
        errs.append(f"{what}: repeated ids")
    for i, s in got:
        if not 0 <= i < len(vecs):
            errs.append(f"{what}: unknown id {i}")
        elif abs(cosine(vecs[i], q) - s) > 1e-5:
            errs.append(f"{what}: id {i} sim {s}, expected {cosine(vecs[i], q):.6f}")
    if any(a[1] < b[1] - 1e-12 for a, b in zip(got, got[1:])):
        errs.append(f"{what}: not sorted by similarity")
    return errs


def recall(got_ids: list[int], truth: list[int]) -> float:
    return len(set(got_ids) & set(truth)) / len(truth) if truth else 1.0


def check_hybrid(rows: list[dict], bm25_ranked: list[int], k: int, depth: int, rrf_k: int = 60) -> list[str]:
    """``rows``: (doc_id, rrf_score, rank_1, rank_2). rank_1 must be the
    doc's rank in the reference BM25 list; each score must be the RRF
    sum of its ranks; rows come in (score desc, id) order."""
    errs = []
    if not rows or len(rows) > k:
        errs.append(f"hybrid: {len(rows)} results for k={k}")
    bm_rank = {d: r + 1 for r, d in enumerate(bm25_ranked[:depth])}
    for row in rows:
        d, r1, r2 = row["doc_id"], row["rank_1"], row["rank_2"]
        if r1 != bm_rank.get(d):
            errs.append(f"hybrid: doc {d} bm25 rank {r1}, expected {bm_rank.get(d)}")
        if r2 is not None and not 1 <= r2 <= depth:
            errs.append(f"hybrid: doc {d} ann rank {r2} outside 1..{depth}")
        want = sum(1.0 / (rrf_k + r) for r in (r1, r2) if r is not None)
        if abs(row["rrf_score"] - want) > 1e-12:
            errs.append(f"hybrid: doc {d} score {row['rrf_score']}, expected {want}")
    keys = [(-r["rrf_score"], r["doc_id"]) for r in rows]
    if keys != sorted(keys):
        errs.append("hybrid: not in (score desc, id) order")
    return errs
