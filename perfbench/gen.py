"""Seeded input generators and the oracles that check the program's outputs.

Everything here is plain Python/NumPy/pandas: the program under test only
ever receives the frames and topics built from these values, and every
expected count is derived from the generator's own bookkeeping, never from
the program.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# The quality gate's stopword pattern and the English language markers
# (kafi_spark.functions.text) count these words; content words must never
# collide with them or with another language's markers.
STOPWORDS = ("the", "and", "of", "to", "in", "a", "is", "it")
_RESERVED = set(STOPWORDS) | {
    "der", "die", "das", "und", "ist", "el", "la", "los", "que", "y",
    "le", "les", "et", "est",
}
_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]


def vocabulary(n: int) -> list[str]:
    """``n`` distinct lowercase content words of 2-3 syllables, fixed (not
    seeded) so every run draws from the same alphabet."""
    words: list[str] = []
    for a in _SYLLABLES:
        for b in _SYLLABLES:
            w = a + b
            if w not in _RESERVED:
                words.append(w)
    i = 0
    while len(words) < n:
        w = _SYLLABLES[i % len(_SYLLABLES)] + words[i]
        if w not in _RESERVED:
            words.append(w)
        i += 1
    return words[:n]


def _sentence(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    """``n`` tokens, every third one a stopword and the first one 'the', so
    the language guess is English and the stopword ratio clears the
    quality gate by construction."""
    stop = np.arange(n) % 3 == 0
    toks = np.where(
        stop,
        np.asarray(STOPWORDS)[rng.integers(0, len(STOPWORDS), n)],
        vocab[rng.integers(0, len(vocab), n)],
    ).tolist()
    toks[0] = "the"
    return toks


# ---------------------------------------------------------------- curation

@dataclass
class Corpus:
    """A curation corpus plus everything the oracle needs to know."""

    docs: pd.DataFrame                 # doc_id long, text string
    eval_docs: pd.DataFrame            # doc_id long, text string
    span_tokens: int
    expected_ids: set[int]
    exact_dup_ids: set[int]
    family_ids: list[list[int]]        # base id first
    contaminated_ids: set[int]
    junk_ids: set[int]
    chars_removed_by_spans: int
    planted: dict = field(default_factory=dict)


def curation_corpus(seed: int, n_regular: int, id_base: int = 0) -> Corpus:
    """Near-duplicate-heavy word corpus.

    - regular documents of 60-187 tokens, a fifth of them opened by one of
      five 50-token boilerplate headers (one span at ``span_tokens=50``);
    - about 1% exact duplicates of regular documents, with higher ids;
    - near-duplicate families: a single-span base document (40-47 tokens)
      and 1-5 copies with a unique suffix token each, shingle Jaccard
      above 0.95 to the base, so only MinHash can remove them;
    - an eval set of 50-token documents; 0.3% of regular documents carry a
      12-token slice of one, so they share 8-grams with it;
    - 3% short digit/punctuation junk that fails the language/quality gate.

    Expected survivors of ``curate_documents_extended(span_tokens=50,
    eval_df=eval, decontam_n=8)``: every clean regular document and every
    family base.
    """
    rng = np.random.default_rng([seed, 0xC0])
    vocab = np.asarray(vocabulary(20_000))
    span = 50
    headers = [" ".join(_sentence(rng, vocab, span)) for _ in range(5)]
    evals = [" ".join(_sentence(rng, vocab, 50)) for _ in range(40)]

    ids: list[int] = []
    texts: list[str] = []
    next_id = id_base

    def add(text: str) -> int:
        nonlocal next_id
        ids.append(next_id)
        texts.append(text)
        next_id += 1
        return next_id - 1

    regular: list[int] = []
    header_of: dict[int, int] = {}
    for _ in range(n_regular):
        # the last span holds 10-37 tokens (22-49 with an eval slice
        # appended): a short last span, e.g. one word, would repeat across
        # documents and span dedup would cut it
        n_tok = span * int(rng.integers(1, 4)) + int(rng.integers(10, 38))
        body = " ".join(_sentence(rng, vocab, n_tok))
        if rng.random() < 0.2:
            h = int(rng.integers(0, len(headers)))
            i = add(headers[h] + " " + body)
            header_of[i] = h
        else:
            i = add(body)
        regular.append(i)

    order = rng.permutation(len(regular))
    n_contam = max(1, n_regular * 3 // 1000)
    n_dup = max(1, n_regular // 100)
    contaminated = {regular[j] for j in order[:n_contam]}
    dup_sources = [regular[j] for j in order[n_contam:n_contam + n_dup]]
    text_of = dict(zip(ids, texts))
    for i in contaminated:
        ev = evals[int(rng.integers(0, len(evals)))].split(" ")
        at = int(rng.integers(0, len(ev) - 12))
        text_of[i] = text_of[i] + " " + " ".join(ev[at:at + 12])
    texts = [text_of[i] for i in ids]

    exact_dups = set()
    for src in dup_sources:
        exact_dups.add(add(text_of[src]))

    families: list[list[int]] = []
    for _ in range(max(1, n_regular // 50)):
        base_text = " ".join(_sentence(rng, vocab, int(rng.integers(40, 48))))
        fam = [add(base_text)]
        for _c in range(int(rng.integers(1, 6))):
            fam.append(add(f"{base_text} zq{next_id}"))
        families.append(fam)

    junk = set()
    for _ in range(max(1, n_regular * 3 // 100)):
        n = int(rng.integers(4, 10))
        junk.add(add(" ".join(
            f"{int(rng.integers(0, 10**6))}!" for _ in range(n))))

    # shuffle row order (ids keep their meaning; order must not matter)
    perm = rng.permutation(len(ids))
    docs = pd.DataFrame({
        "doc_id": np.asarray(ids, dtype=np.int64)[perm],
        "text": np.asarray(texts, dtype=object)[perm],
    })
    eval_df = pd.DataFrame({
        "doc_id": np.arange(len(evals), dtype=np.int64),
        "text": evals,
    })

    # span dedup keeps the first (lowest-id) occurrence of each header and
    # removes every whole exact duplicate; everything else is unique
    first_with = {}
    chars = 0
    for i in sorted(header_of):
        h = header_of[i]
        if h in first_with:
            chars += len(headers[h]) + 1
        else:
            first_with[h] = i
    chars += sum(len(text_of[s]) for s in dup_sources)

    expected = (set(regular) - contaminated) | {f[0] for f in families}
    return Corpus(
        docs=docs, eval_docs=eval_df, span_tokens=span,
        expected_ids=expected, exact_dup_ids=exact_dups,
        family_ids=families, contaminated_ids=contaminated, junk_ids=junk,
        chars_removed_by_spans=chars,
        planted={"docs": len(ids), "exact_dups": len(exact_dups),
                 "families": len(families),
                 "family_copies": sum(len(f) - 1 for f in families),
                 "contaminated": len(contaminated), "junk": len(junk)},
    )


def check_curated(corpus: Corpus, got_ids: list[int]) -> list[str]:
    """Mismatches between a curated id list and the generator's truth."""
    errs = []
    got = set(got_ids)
    if len(got) != len(got_ids):
        errs.append("curated output repeats an id")
    if got & corpus.exact_dup_ids:
        errs.append(f"{len(got & corpus.exact_dup_ids)} exact duplicates kept")
    for fam in corpus.family_ids:
        kept = got & set(fam)
        if kept != {fam[0]}:
            errs.append(f"family {fam[0]} kept {sorted(kept)}")
    if got & corpus.contaminated_ids:
        errs.append(f"{len(got & corpus.contaminated_ids)} contaminated kept")
    if got & corpus.junk_ids:
        errs.append(f"{len(got & corpus.junk_ids)} junk documents kept")
    missing = corpus.expected_ids - got
    if missing:
        errs.append(f"{len(missing)} clean documents dropped")
    return errs


# ------------------------------------------------------------------ topics

_TAGS = np.asarray(["gold", "red", "blue", "green", "grey", "pink", "teal", "tan"])
_TAG_P = np.asarray([0.05, 0.3, 0.2, 0.15, 0.1, 0.1, 0.05, 0.05])
GREP_PATTERN = '"tag":"gold"'
TS0_MS = 1_700_000_000_000


@dataclass
class TopicLog:
    """Keyed JSON messages in append batches, with the expected answers."""

    batches: list[pd.DataFrame]        # key binary, value binary, timestamp long
    n: int
    user_bytes: int
    grep_matches: int
    compacted: int
    ts_window: tuple[int, int]         # epoch ms, [lo, hi)
    ts_window_count: int
    cp_window: tuple[int, int]
    cp_count: int
    cp_gold: int


def topic_log(seed: int, n: int, appends: int, n_keys: int) -> TopicLog:
    """``n`` messages over ``n_keys`` Zipf-skewed keys (a=1.3), 0.5%
    tombstones (null value), timestamps 10 ms apart, split into
    ``appends`` produce batches."""
    rng = np.random.default_rng([seed, 0x70])
    key_idx = (rng.zipf(1.3, n) - 1) % n_keys
    tags = rng.choice(_TAGS, size=n, p=_TAG_P)
    amounts = rng.integers(1, 10_000, n)
    tomb = rng.random(n) < 0.005
    keys = [f"k{k:06d}".encode() for k in key_idx]
    values = [
        None if t else json.dumps(
            {"id": i, "user": f"u{k}", "amount": int(a), "tag": str(g)},
            separators=(",", ":")).encode()
        for i, (k, a, g, t) in enumerate(zip(key_idx, amounts, tags, tomb))
    ]
    ts = TS0_MS + 10 * np.arange(n, dtype=np.int64)

    last = {}
    for k, t in zip(key_idx.tolist(), tomb.tolist()):
        last[k] = t
    compacted = sum(1 for t in last.values() if not t)
    gold = (tags == "gold") & ~tomb

    lo, hi = int(ts[n // 3]), int(ts[n // 3 + n // 4])
    in_win = (ts >= lo) & (ts < hi)
    clo, chi = int(ts[n // 2]), int(ts[n // 2 + n // 10])
    in_cp = (ts >= clo) & (ts < chi)

    bounds = np.linspace(0, n, appends + 1).astype(int)
    batches = [
        pd.DataFrame({"key": keys[a:b], "value": values[a:b],
                      "timestamp": ts[a:b]})
        for a, b in zip(bounds[:-1], bounds[1:])
    ]
    return TopicLog(
        batches=batches, n=n,
        user_bytes=sum(len(k) for k in keys) + sum(len(v) for v in values if v),
        grep_matches=int(gold.sum()), compacted=compacted,
        ts_window=(lo, hi), ts_window_count=int(in_win.sum()),
        cp_window=(clo, chi), cp_count=int(in_cp.sum()),
        cp_gold=int((gold & in_cp).sum()),
    )


# ------------------------------------------------------------- shoe shop

SHOE_TS0 = 1_609_459_200_000
SHOE_STEP_MS = 100_000          # event-time spacing (FIXTURES shoe_orders)


@dataclass
class ShoeShop:
    customers: pd.DataFrame         # id, email
    products: pd.DataFrame          # id, sale_price
    steps: list[pd.DataFrame]       # order_id, product_id, customer_id, ts
    window_ms: int
    lateness_ms: int


def shoe_shop(seed: int, n_steps: int, per_step: int,
              n_customers: int = 200, n_products: int = 100) -> ShoeShop:
    """FIXTURES §3 shapes: customers and products dimensions and an orders
    stream in ``n_steps`` batches. Event time advances SHOE_STEP_MS per
    order; 3% of orders are out of order (shifted back up to one window,
    most still inside the allowed lateness) and 1% arrive late by several
    windows, so expiry drops them on arrival."""
    rng = np.random.default_rng([seed, 0x5E])
    customers = pd.DataFrame({
        "id": [f"c{i:04d}" for i in range(n_customers)],
        "email": [f"user{i}@example.com" for i in range(n_customers)],
    })
    products = pd.DataFrame({
        "id": [f"p{i:04d}" for i in range(n_products)],
        "sale_price": rng.integers(1_000, 20_000, n_products).astype(np.int64),
    })
    window = 20 * SHOE_STEP_MS * per_step // 10   # two steps of event time
    lateness = window // 2
    n = n_steps * per_step
    ts = SHOE_TS0 + SHOE_STEP_MS * np.arange(n, dtype=np.int64)
    u = rng.random(n)
    ooo = u < 0.03
    late = (u >= 0.03) & (u < 0.04)
    ts = ts - ooo * rng.integers(1, window, n) - late * (5 * window)
    orders = pd.DataFrame({
        "order_id": np.arange(1000, 1000 + n, dtype=np.int64),
        "product_id": [f"p{i:04d}" for i in rng.integers(0, n_products, n)],
        "customer_id": [f"c{i:04d}" for i in
                        (rng.zipf(1.5, n) - 1) % n_customers],
        "ts": ts,
    })
    steps = [orders.iloc[s * per_step:(s + 1) * per_step].reset_index(drop=True)
             for s in range(n_steps)]
    return ShoeShop(customers, products, steps, window, lateness)


def shoe_expected(shop: ShoeShop, n_steps: int) -> dict[str, pd.DataFrame]:
    """pandas recomputation of the three sinks over the orders that
    tumbling expiry leaves after ``n_steps`` steps: a record survives iff
    its window end plus lateness is past the largest event time seen."""
    orders = pd.concat(shop.steps[:n_steps], ignore_index=True)
    wm = int(orders["ts"].max())
    end = (orders["ts"] // shop.window_ms + 1) * shop.window_ms
    live = orders[end + shop.lateness_ms > wm]
    j = (live.merge(shop.customers, left_on="customer_id", right_on="id")
         .merge(shop.products, left_on="product_id", right_on="id"))
    j = j.assign(w_start=(j["ts"] // shop.window_ms) * shop.window_ms)
    revenue = (j.groupby(["customer_id", "email", "w_start"], as_index=False)
               .agg(orders=("order_id", "size"), revenue=("sale_price", "sum")))
    pairs = live[["customer_id", "product_id"]].drop_duplicates()
    counts = (live.groupby("product_id", as_index=False)
              .agg(n=("order_id", "size")))
    return {"revenue": revenue, "pairs": pairs, "per_product": counts}


# ------------------------------------------------------------ ingest epochs

@dataclass
class IngestEpochs:
    batches: list[pd.DataFrame]        # doc_id long, text string
    fresh: list[set[int]]              # per epoch: ids that must be emitted
    planted: set[int]                  # cross-epoch copies: never emitted


def ingest_epochs(seed: int, n_epochs: int, per_epoch: int) -> IngestEpochs:
    """Epochs of fresh 40-160-token documents (no shared boilerplate, so no
    two fresh documents share an LSH band). From the second epoch on, a
    tenth of each epoch is planted copies of documents emitted in earlier
    epochs: half exact copies, half with a unique suffix token."""
    rng = np.random.default_rng([seed, 0x1E])
    vocab = np.asarray(vocabulary(20_000))
    next_id = 0
    batches, fresh, planted = [], [], set()
    seen: list[str] = []
    for e in range(n_epochs):
        ids, texts, new = [], [], set()
        n_copies = per_epoch // 10 if e else 0
        for _ in range(per_epoch - n_copies):
            texts.append(" ".join(_sentence(rng, vocab, int(rng.integers(40, 161)))))
            ids.append(next_id)
            new.add(next_id)
            next_id += 1
        for j in range(n_copies):
            src = seen[int(rng.integers(0, len(seen)))]
            texts.append(src if j % 2 else f"{src} zq{next_id}")
            ids.append(next_id)
            planted.add(next_id)
            next_id += 1
        seen.extend(texts[:per_epoch - n_copies])
        batches.append(pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64),
                                     "text": texts}))
        fresh.append(new)
    return IngestEpochs(batches, fresh, planted)
