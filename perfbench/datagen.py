"""Seeded synthetic corpora for the benchmark.

Everything here is plain numpy/Python: the library under test only ever
sees the generated rows. The same seed always yields the
same documents, queries and write batches.

Documents
    * ``vector``: 64-d draws from a Gaussian mixture (one component per
      topic), so IVF lists and PQ codebooks see real cluster structure.
    * ``text``: English-like sentences. Each document picks a topic; its
      content words come from that topic's Zipf-weighted vocabulary plus a
      shared background vocabulary, interleaved with the ten stopwords the
      Gopher rules count, with commas, full stops and capitalised sentence
      starts. A stated fraction of documents is deliberately low quality
      (too short for ``gopher_rules``' ``min_words``) and a stated fraction
      are planted near-duplicates of an earlier high-quality document.
    * metadata: ``lang`` (categorical), ``n_chars`` (numeric, the text
      length) and ``source`` (categorical).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "on", "for"]
LANGS = ["en", "de", "fr", "es"]
LANG_P = [0.6, 0.2, 0.1, 0.1]
SOURCES = ["web", "news", "books", "forum"]
_ONSETS = ["b", "c", "d", "f", "g", "h", "l", "m", "n", "p", "r", "s", "t",
           "v", "w", "br", "cr", "dr", "gr", "pl", "st", "tr", "ch", "sh", "th"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]
_CODAS = ["", "", "n", "r", "s", "t", "l", "m", "nd", "st", "ck"]
_WORD_RE = re.compile(r"[a-z0-9]+")


def _zipf_weights(n: int) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_A
    return w / w.sum()


def tokens(text: str) -> list[str]:
    """Reference tokenizer for generated text: lowercase alphanumeric runs.
    Generated text is ASCII words separated by spaces, commas and full
    stops, so this equals UAX#29 word segmentation on it."""
    return _WORD_RE.findall(text.lower())


DIM = 64
N_TOPICS = 16
TOPIC_VOCAB = 600        # Zipf-weighted words per topic
BACKGROUND_VOCAB = 4000  # words shared by every topic
ZIPF_A = 1.0             # exponent of the word weights
STOPWORD_P = 0.3         # share of tokens that are stopwords
BACKGROUND_P = 0.3       # share of content tokens from the background
MIN_WORDS, MAX_WORDS = 40, 90
LOW_QUALITY_FRAC = 0.08  # docs shorter than gopher_rules' min_words (30)
DUP_FRAC = 0.05          # planted near-duplicates
DUP_EDIT_FRAC = 0.05     # share of a duplicate's tokens replaced
CLUSTER_SIGMA = 0.35     # within-topic spread vs unit-scale centres


@dataclass
class Corpus:
    ids: np.ndarray            # int64
    vectors: np.ndarray        # float64 [n, dim]
    texts: list[str]
    lang: list[str]
    n_chars: np.ndarray        # int64
    source: list[str]
    dup_of: np.ndarray         # int64 id of the planted original, -1 if none
    token_lists: list[list[str]]  # tokens(text) of each document

    def __len__(self) -> int:
        return len(self.ids)

    def rows(self) -> list[tuple]:
        return [
            (int(i), [float(x) for x in v], t, lg, int(nc), s)
            for i, v, t, lg, nc, s in zip(
                self.ids, self.vectors, self.texts, self.lang, self.n_chars,
                self.source,
            )
        ]

    def payload_each(self) -> list[int]:
        """Raw payload bytes per document: 8 (id) + 8·dim (vector) + UTF-8
        text + the metadata strings + 8 (n_chars)."""
        dim = self.vectors.shape[1]
        return [16 + 8 * dim + len(t.encode()) + len(lg) + len(s)
                for t, lg, s in zip(self.texts, self.lang, self.source)]


SCHEMA = ("id bigint, vector array<double>, text string, lang string, "
          "n_chars bigint, source string")


class Generator:
    """One seeded world: vocabularies, topic centres and an RNG stream.
    Corpora, write batches and queries drawn from one generator share its
    topics, so queries hit the corpus the way real traffic would."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        vocab = self._vocabulary(BACKGROUND_VOCAB + N_TOPICS * TOPIC_VOCAB)
        self.background = vocab[:BACKGROUND_VOCAB]
        rest = vocab[BACKGROUND_VOCAB:]
        self.topic_words = [rest[t * TOPIC_VOCAB:(t + 1) * TOPIC_VOCAB] for t in range(N_TOPICS)]
        self.topic_w = _zipf_weights(TOPIC_VOCAB)
        self.background_w = _zipf_weights(BACKGROUND_VOCAB)
        self.centres = self.rng.normal(0.0, 1.0, size=(N_TOPICS, DIM))
        self.next_id = 0

    def _vocabulary(self, n: int) -> list[str]:
        rng, seen, out = self.rng, set(), []
        while len(out) < n:
            k = int(rng.integers(1, 4))
            w = "".join(
                _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
                for _ in range(k)
            ) + _CODAS[rng.integers(len(_CODAS))]
            if w not in seen and w not in STOPWORDS and len(w) >= 3:
                seen.add(w)
                out.append(w)
        return out

    def _content_words(self, topic: int, n: int) -> list[str]:
        rng = self.rng
        from_bg = rng.random(n) < BACKGROUND_P
        tw = rng.choice(TOPIC_VOCAB, size=n, p=self.topic_w)
        bw = rng.choice(BACKGROUND_VOCAB, size=n, p=self.background_w)
        words = self.topic_words[topic]
        return [self.background[b] if g else words[t] for g, t, b in zip(from_bg, tw, bw)]

    def _token_list(self, topic: int, n_words: int) -> list[str]:
        rng = self.rng
        content = self._content_words(topic, n_words)
        is_stop = rng.random(n_words) < STOPWORD_P
        stops = rng.integers(len(STOPWORDS), size=n_words)
        return [STOPWORDS[s] if st else c for st, s, c in zip(is_stop, stops, content)]

    def _render(self, toks: list[str]) -> str:
        """Sentences of 6–14 words: capitalised start, commas inside,
        full stop at the end."""
        rng, out, i = self.rng, [], 0
        while i < len(toks):
            n = int(rng.integers(6, 15))
            sent = list(toks[i:i + n])
            i += n
            sent[0] = sent[0].capitalize()
            if len(sent) > 4 and rng.random() < 0.5:
                j = int(rng.integers(2, len(sent) - 1))
                sent[j] = sent[j] + ","
            out.append(" ".join(sent) + ".")
        return " ".join(out)

    def corpus(self, n: int, *, with_dups: bool = True) -> Corpus:
        """``n`` new documents with fresh consecutive ids."""
        rng = self.rng
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        topic = rng.integers(N_TOPICS, size=n)
        vectors = self.centres[topic] + rng.normal(0.0, CLUSTER_SIGMA, size=(n, DIM))
        low = rng.random(n) < LOW_QUALITY_FRAC
        dup_of = np.full(n, -1, dtype=np.int64)
        token_lists: list[list[str]] = []
        for i in range(n):
            if low[i]:
                token_lists.append(self._token_list(int(topic[i]), int(rng.integers(8, 25))))
            else:
                nw = int(rng.integers(MIN_WORDS, MAX_WORDS + 1))
                token_lists.append(self._token_list(int(topic[i]), nw))
        if with_dups:
            good = np.flatnonzero(~low)
            n_dup = int(round(DUP_FRAC * n))
            # duplicates are later documents copying an earlier original
            cand = good[good >= n // 4]
            dups = np.sort(rng.choice(cand, size=min(n_dup, len(cand)), replace=False))
            for d in dups:
                originals = good[(good < d) & (dup_of[good] < 0)]
                o = int(originals[rng.integers(len(originals))])
                toks = list(token_lists[o])
                edits = rng.random(len(toks)) < DUP_EDIT_FRAC
                repl = self._content_words(int(topic[o]), len(toks))
                token_lists[d] = [r if e else t for e, r, t in zip(edits, repl, toks)]
                topic[d] = topic[o]
                vectors[d] = vectors[o] + rng.normal(0.0, 0.01, size=DIM)
                dup_of[d] = ids[o]
        texts = [self._render(t) for t in token_lists]
        lang = list(rng.choice(LANGS, size=n, p=LANG_P))
        source = list(rng.choice(SOURCES, size=n))
        return Corpus(
            ids=ids, vectors=vectors, texts=texts, lang=[str(x) for x in lang],
            n_chars=np.array([len(t) for t in texts], dtype=np.int64),
            source=[str(x) for x in source], dup_of=dup_of, token_lists=[tokens(t) for t in texts],
        )

    def vectors(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """``n`` text-less (id, vector) rows from the same mixture, ids
        0..n-1: the table offline_build's index builds run over."""
        topic = self.rng.integers(N_TOPICS, size=n)
        vecs = self.centres[topic] + self.rng.normal(0.0, CLUSTER_SIGMA, size=(n, DIM))
        return np.arange(n, dtype=np.int64), vecs

    # -- queries ------------------------------------------------------------

    def query_vectors(self, corpus_vectors: np.ndarray, n: int, noise: float = 0.1) -> np.ndarray:
        """Perturbed corpus vectors."""
        rows = self.rng.integers(len(corpus_vectors), size=n)
        return corpus_vectors[rows] + self.rng.normal(0.0, noise, size=(n, corpus_vectors.shape[1]))

    def text_queries(self, n: int) -> list[str]:
        """1–4 terms, Zipf-drawn from a topic's vocabulary: popular terms
        repeat across queries."""
        rng, out = self.rng, []
        for _ in range(n):
            t = int(rng.integers(N_TOPICS))
            k = int(rng.integers(1, 5))
            out.append(" ".join(self._content_words(t, k)))
        return out

    def sample_ids(self, live: np.ndarray, n: int) -> np.ndarray:
        return np.sort(self.rng.choice(live, size=min(n, len(live)), replace=False))
