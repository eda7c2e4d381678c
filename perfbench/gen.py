"""Seeded input generators and their ground truth.

Every input of every workload is a pure function of ``--seed``: one
``numpy.random.Generator`` stream per workload. Ground truth (exact
vector neighbours, planted duplicate sets, the document each fresh
query must find) is computed here, in numpy, before anything is timed.
``fingerprint`` hashes the generated inputs so two runs can be shown to
have used identical data.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np

# gopher's required-word rule wants at least two of these per document
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
DIM = 64
TOPK = 10
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words of 4-8 letters, none a stopword."""
    words: list[str] = []
    seen = set(STOPWORDS)
    while len(words) < size:
        w = "".join(rng.choice(_LETTERS, int(rng.integers(4, 9))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_words(rng: np.random.Generator, vocab: list[str], n: int, a: float) -> list[str]:
    ranks = np.minimum(rng.zipf(a, n), len(vocab)) - 1
    return [vocab[r] for r in ranks]


def content_words(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    """Half Zipf-common words, half uniform content words, interleaved
    at random: every sentence carries some rare terms."""
    common = zipf_words(rng, vocab, n, 1.15)
    rare = rng.integers(0, len(vocab), n)
    pick = rng.random(n) < 0.5
    return [vocab[r] if p else c for c, r, p in zip(common, rare, pick)]


class Fingerprint:
    """Running sha256 over the generated inputs."""

    def __init__(self) -> None:
        self._h = hashlib.sha256()

    def add(self, obj) -> None:
        if isinstance(obj, np.ndarray):
            self._h.update(np.ascontiguousarray(obj).tobytes())
        elif isinstance(obj, str):
            self._h.update(obj.encode())
        else:
            for x in obj:
                self.add(x)
        self._h.update(b"\x00")

    def hexdigest(self) -> str:
        return self._h.hexdigest()[:16]


# ---------------------------------------------------------------- rag_search
@dataclass
class SearchInputs:
    uids: np.ndarray  # int64 [n]
    texts: list[str]
    vecs: np.ndarray  # float32 [n, DIM]
    mvecs: np.ndarray  # float32 [n, tokens, DIM]
    # single-query pools, one per query type
    pool_vecs: np.ndarray
    pool_texts: list[str]
    pool_mvecs: np.ndarray
    # batch phase
    batch_vecs: np.ndarray
    batch_texts: list[str]
    batch_mvecs: np.ndarray
    batch_truth: np.ndarray  # int64 [batch, TOPK] exact l2 neighbours (uids)
    # rows BM25 must return per query: TOPK, or fewer when fewer
    # documents share a term with the query (only those score)
    pool_kw_rows: list[int] = field(default_factory=list)
    batch_kw_rows: list[int] = field(default_factory=list)
    fingerprint: str = ""
    user_bytes: int = 0


def _topic_text(rng, topic_vocab: list[str], n_words: int) -> str:
    return " ".join(zipf_words(rng, topic_vocab, n_words, 1.3))


def search_inputs(
    seed: int,
    n: int = 1200,
    topics: int = 16,
    tokens: int = 4,
    pool: int = 32,
    batch: int = 64,
) -> SearchInputs:
    """A 64-d Gaussian-mixture corpus whose text is Zipf-drawn from a
    per-topic ordering of one vocabulary, so IVF cells and BM25 terms
    both follow the topic structure. Each row also carries a
    ``tokens``-vector late-interaction column around its vector."""
    rng = _rng(seed, 1)
    vocab = vocabulary(rng, 3000)
    topic_vocab = [list(np.roll(vocab, 97 * t)) for t in range(topics)]
    centers = rng.normal(0.0, 4.0, (topics, DIM))

    def draw(m: int):
        topic = rng.integers(0, topics, m)
        vecs = (centers[topic] + rng.normal(0.0, 1.0, (m, DIM))).astype(np.float32)
        mvecs = (vecs[:, None, :] + rng.normal(0.0, 0.5, (m, tokens, DIM))).astype(
            np.float32
        )
        return topic, vecs, mvecs

    topic, vecs, mvecs = draw(n)
    texts = [_topic_text(rng, topic_vocab[t], 24) for t in topic]
    p_topic, pool_vecs, pool_mvecs = draw(pool)
    pool_texts = [_topic_text(rng, topic_vocab[t][:200], 4) for t in p_topic]
    b_topic, batch_vecs, batch_mvecs = draw(batch)
    batch_texts = [_topic_text(rng, topic_vocab[t][:200], 4) for t in b_topic]
    uids = np.arange(n, dtype=np.int64) * 7 + 1  # non-dense ids
    d2 = ((batch_vecs[:, None, :].astype(np.float64) - vecs[None, :, :]) ** 2).sum(-1)
    truth = uids[np.argsort(d2, axis=1, kind="stable")[:, :TOPK]]
    doc_terms = [set(t.split()) for t in texts]

    def kw_rows(query: str) -> int:
        terms = set(query.split())
        return min(TOPK, sum(1 for d in doc_terms if d & terms))

    inp = SearchInputs(
        uids, texts, vecs, mvecs, pool_vecs, pool_texts, pool_mvecs,
        batch_vecs, batch_texts, batch_mvecs, truth,
        [kw_rows(q) for q in pool_texts], [kw_rows(q) for q in batch_texts],
    )
    fp = Fingerprint()
    for part in (uids, texts, vecs, mvecs, pool_vecs, pool_texts, pool_mvecs,
                 batch_vecs, batch_texts, batch_mvecs):
        fp.add(part)
    inp.fingerprint = fp.hexdigest()
    inp.user_bytes = (
        sum(len(t.encode()) for t in texts) + vecs.nbytes + mvecs.nbytes
    )
    return inp


def zipf_schedule(seed: int, n: int, pool: int, a: float = 1.2) -> list[int]:
    """Pool indices for ``n`` single queries: Zipf-skewed, so the hot
    head of the pool repeats (the reuse a result cache could exploit)."""
    rng = _rng(seed, 2)
    return [int(r) for r in (np.minimum(rng.zipf(a, n), pool) - 1)]


# ---------------------------------------------------------------- rag_ingest
@dataclass
class IngestInputs:
    batches: list[list[dict]]  # [{"doc_id", "text"}] per batch
    # per batch: (doc_id, query sentence) pairs the fresh reads use
    probes: list[list[tuple[int, str]]]
    fingerprint: str = ""
    user_bytes: list[int] = field(default_factory=list)  # text bytes per batch


def ingest_inputs(
    seed: int, batches: int = 6, docs: int = 300, probes: int = 5
) -> IngestInputs:
    """Documents of 4-6 punctuated sentences (so the regex chunker
    splits them) of common and rare words. Each batch names ``probes``
    of its documents and the sentence a fresh read searches for: the
    sentence whose words are rarest on average, so BM25 ranks that
    document's chunk first and the hybrid result must contain it."""
    rng = _rng(seed, 3)
    vocab = vocabulary(rng, 6000)
    rank = {w: i for i, w in enumerate(vocab)}
    out = IngestInputs([], [])
    doc_id = 0
    for _ in range(batches):
        batch, sentences = [], []
        for _ in range(docs):
            sents = [
                " ".join(content_words(rng, vocab, int(rng.integers(8, 15))))
                for _ in range(int(rng.integers(4, 7)))
            ]
            batch.append({"doc_id": doc_id, "text": ". ".join(sents) + "."})
            sentences.append(sents)
            doc_id += 1
        picks = rng.choice(docs, probes, replace=False)
        out.probes.append([
            (
                batch[i]["doc_id"],
                max(sentences[i], key=lambda s: np.mean([rank[w] for w in s.split()])),
            )
            for i in picks
        ])
        out.batches.append(batch)
        out.user_bytes.append(sum(len(d["text"].encode()) for d in batch))
    fp = Fingerprint()
    for batch in out.batches:
        fp.add([d["text"] for d in batch])
    out.fingerprint = fp.hexdigest()
    return out


# ------------------------------------------------------------- corpus_funnel
@dataclass
class FunnelShard:
    ids: np.ndarray
    texts: list[str]
    good: set[int]  # ids the quality gate must keep
    exact_dups: set[int]  # planted byte-identical copies (not the originals)
    near_dups: set[int]  # planted token-edited copies (not the originals)
    text_bytes: int = 0


@dataclass
class FunnelInputs:
    shards: list[FunnelShard]
    fingerprint: str = ""


def _shingles(tokens: list[str], n: int = 3) -> set[tuple[str, ...]]:
    return {tuple(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a.split()), _shingles(b.split())
    return len(sa & sb) / len(sa | sb)


def funnel_inputs(
    seed: int,
    shards: int = 1,
    good: int = 500,
    exact: int = 50,
    near: int = 50,
    short: int = 40,
    repetitive: int = 40,
) -> FunnelInputs:
    """Raw crawl shards with planted defects: byte-identical copies,
    near-copies (1-3 word substitutions, word-3-gram Jaccard >= 0.8
    against the original), very short documents and single-word
    repetition documents (no stopwords). Originals always hold the
    lower id, so min-id survivor selection keeps them."""
    rng = _rng(seed, 4)
    vocab = vocabulary(rng, 8000)
    out = FunnelInputs([])
    next_id = 0
    for _ in range(shards):
        base = []
        for _ in range(good):
            words = zipf_words(rng, vocab, int(rng.integers(60, 120)), 1.1)
            for pos in rng.choice(len(words), len(words) // 4, replace=False):
                words[pos] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
            base.append(" ".join(words))
        ids = list(range(next_id, next_id + good))
        texts = list(base)
        next_id += good
        exact_ids, near_ids = set(), set()
        for src in rng.choice(good, exact, replace=False):
            ids.append(next_id)
            texts.append(base[src])
            exact_ids.add(next_id)
            next_id += 1
        for src in rng.choice(good, near, replace=False):
            original = base[src].split()
            positions = rng.choice(np.arange(3, len(original) - 3, 7), 3, replace=False)
            subs = [vocab[int(r)] for r in rng.integers(len(vocab) // 2, len(vocab), 3)]
            # 1-3 substitutions at spread-out positions; fewer on short
            # documents, where each edit costs a larger Jaccard share
            for edits in range(int(rng.integers(1, 4)), 0, -1):
                words = list(original)
                for pos, sub in zip(positions[:edits], subs):
                    words[pos] = sub
                copy = " ".join(words)
                if jaccard(copy, base[src]) >= 0.8:
                    break
            ids.append(next_id)
            texts.append(copy)
            near_ids.add(next_id)
            next_id += 1
        good_ids = set(ids)
        for _ in range(short):
            ids.append(next_id)
            texts.append(" ".join(zipf_words(rng, vocab, int(rng.integers(5, 30)), 1.1)))
            next_id += 1
        for _ in range(repetitive):
            ids.append(next_id)
            texts.append(" ".join([vocab[int(rng.integers(0, len(vocab)))]] * int(rng.integers(60, 120))))
            next_id += 1
        order = rng.permutation(len(ids))
        shard = FunnelShard(
            np.asarray(ids, dtype=np.int64)[order],
            [texts[i] for i in order],
            good_ids,
            exact_ids,
            near_ids,
        )
        shard.text_bytes = sum(len(t.encode()) for t in shard.texts)
        out.shards.append(shard)
    fp = Fingerprint()
    for s in out.shards:
        fp.add(s.ids)
        fp.add(s.texts)
    out.fingerprint = fp.hexdigest()
    return out
