"""Seeded inputs for the benchmark: transcript corpora, query streams and
upsert batches. Everything here is a pure function of the seed and the
sizes, so the same seed gives the same inputs on every commit; the engine
sees only the generated tables and query strings.

The corpus has the transcript table shape the engine indexes (conv_id,
turn_idx, role, text, tool, ts). Words are Zipf-distributed over an
inflected vocabulary, so a few terms sit in nearly every turn and a long
tail appears once or twice. Query terms are surface forms drawn in
proportion to their document frequency, so queries share hot terms the
way real query logs do, and the tail still misses the engine's
per-engine dictionary memo.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

_BASE_WORDS = (
    "query index token merge shard spark table join filter scan batch "
    "stream cache vector lemma score rank block byte delta plan stage task "
    "write read parse build search result page site word count group sort "
    "limit hash salt skew chunk frame array value field row column type "
    "text turn model agent tool code test debug trace log error retry "
    "fetch crawl link path node tree graph edge list queue stack heap map"
).split()
_FORMS = ("", "s", "ing", "ed")
_FILLER = np.array(["the", "a", "and", "of", "to", "in", "is", "for"])
_ROLES = np.array(["user", "assistant", "system", "tool"])
_TOOLS = np.array(["bash", "search", "editor", "browser"])

# Interactive query shapes for the searches of the mixed workload, in a
# fixed order so every run sees the same mix: over 20 searches, 1/2/3-term
# queries at 20/50/25 % and one page-2 request (offset=10) of a 2-term
# query; the first four hold one of each. Terms come from
# Generator.banded_query.
PAGE2 = 0
SEARCH_SHAPES = (2, 1, 3, PAGE2, 2, 2, 3, 1, 2, 3, 2, 2, 1, 3, 2, 2, 3, 1, 2, 2)


@dataclass(frozen=True)
class Sizes:
    base_turns: int  # base corpus
    n_lemmas: int
    max_turns: int  # per conversation
    batch_queries: int  # queries per search_many call
    new_turns: int  # fresh turns per upsert round
    resend_share: float  # re-sent existing turns / turns offered
    searches_per_round: int
    rounds: int  # upsert rounds of the mixed workload


FULL = Sizes(
    base_turns=3000, n_lemmas=2000, max_turns=40,
    batch_queries=128, new_turns=100, resend_share=0.05,
    searches_per_round=4, rounds=1,
)
TOY = Sizes(
    base_turns=500, n_lemmas=400, max_turns=20,
    batch_queries=16, new_turns=20, resend_share=0.05,
    searches_per_round=2, rounds=2,
)


def _lemmas(n_lemmas: int) -> np.ndarray:
    i = np.arange(n_lemmas)
    base = np.array(_BASE_WORDS)[i % len(_BASE_WORDS)]
    suffix = np.where(
        i < len(_BASE_WORDS), "", (i // len(_BASE_WORDS)).astype(str)
    )
    return np.char.add(base, suffix)


class Generator:
    """One seeded stream of benchmark inputs."""

    def __init__(self, seed: int, sizes: Sizes, zipf_s: float = 1.1):
        self.rng = np.random.default_rng(seed)
        self.sizes = sizes
        lemmas = _lemmas(sizes.n_lemmas)
        self.forms = np.stack([np.char.add(lemmas, f) for f in _FORMS])
        p = np.arange(1, sizes.n_lemmas + 1, dtype=np.float64) ** -zipf_s
        self.cdf = np.cumsum(p / p.sum())
        self.cdf[-1] = 1.0
        self.next_conv = 0
        self.lemma_df: np.ndarray | None = None
        self.form_seen: np.ndarray | None = None  # [form, lemma]

    # -- corpus --------------------------------------------------------
    def _texts(self, n_words: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Texts of ``n_words[i]`` words each, and the (turn, lemma, form)
        triples they contain (for document frequencies)."""
        rng = self.rng
        total = int(n_words.sum())
        lemma = np.searchsorted(self.cdf, rng.random(total))
        form = rng.integers(0, len(_FORMS), total)
        words = self.forms[form, lemma]
        caps = rng.random(total) < 0.1
        words[caps] = np.char.capitalize(words[caps])
        filler = rng.random(total) < 0.15
        words[filler] = np.char.add(
            np.char.add(words[filler], " "),
            _FILLER[rng.integers(0, len(_FILLER), int(filler.sum()))],
        )
        owner = np.repeat(np.arange(n_words.size), n_words)
        joined = pd.Series(words).groupby(owner).agg(" ".join)
        texts = joined.reindex(np.arange(n_words.size)).fillna("").to_numpy()
        return texts, np.stack([owner, lemma, form])

    def conversations(self, total: int) -> pd.DataFrame:
        """Fresh conversations, with ids never used before, holding
        ``total`` turns (the last conversation is cut short)."""
        rng = self.rng
        turns = rng.integers(1, self.sizes.max_turns + 1, size=total)
        n = int(np.searchsorted(np.cumsum(turns), total)) + 1
        turns = turns[:n]
        turns[-1] -= int(turns.sum()) - total
        conv = np.repeat(np.arange(self.next_conv, self.next_conv + n), turns)
        self.next_conv += n
        starts = np.concatenate(([0], np.cumsum(turns)[:-1]))
        turn_idx = np.arange(total) - np.repeat(starts, turns)
        n_words = rng.integers(5, 41, size=total)
        n_words[rng.random(total) < 0.02] = 0  # blank turns: hygiene filter
        texts, words = self._texts(n_words)
        if self.lemma_df is None:
            # document frequency per lemma, and the surface forms seen,
            # over the base corpus
            keyed = np.unique(words[0] * self.sizes.n_lemmas + words[1])
            self.lemma_df = np.bincount(
                keyed % self.sizes.n_lemmas, minlength=self.sizes.n_lemmas
            )
            self.form_seen = np.zeros(self.forms.shape, dtype=bool)
            self.form_seen[words[2], words[1]] = True
        roles = _ROLES[rng.integers(0, len(_ROLES), total)]
        ts = np.datetime64("2025-01-01T00:00:00", "us") + (
            rng.integers(0, 10**7, total) * 10**6
        ).astype("timedelta64[us]")
        return pd.DataFrame({
            "conv_id": np.char.add("conv-", np.char.zfill(conv.astype(str), 7)),
            "turn_idx": turn_idx.astype("int32"),
            "role": roles,
            "text": texts,
            "tool": np.where(
                roles == "tool", _TOOLS[rng.integers(0, len(_TOOLS), total)],
                None,
            ),
            "ts": pd.to_datetime(ts).astype("datetime64[us]"),
        })

    def upsert_batch(self, net: pd.DataFrame) -> tuple[pd.DataFrame, int]:
        """New conversations plus re-sent existing non-blank turns of
        ``net`` with changed text. Returns (batch, number re-sent)."""
        fresh = self.conversations(self.sizes.new_turns)
        share = self.sizes.resend_share
        n_resend = max(1, round(len(fresh) * share / (1 - share)))
        live = net.index[net["text"].str.strip() != ""]
        pick = self.rng.choice(live, size=n_resend, replace=False)
        resent = net.loc[pick].copy()
        resent["text"] = self._texts(
            self.rng.integers(5, 41, size=n_resend)
        )[0]
        return pd.concat([fresh, resent], ignore_index=True), n_resend

    # -- queries ---------------------------------------------------------
    def _surface(self, lemma: np.ndarray) -> str:
        """The lemmas as surface forms the base corpus holds, so no query
        term is missing from the index and every query runs its plan."""
        return " ".join(
            self.forms[self.rng.choice(np.flatnonzero(self.form_seen[:, lem])),
                       lem]
            for lem in lemma
        )

    def query(self, n_terms: int) -> str:
        """``n_terms`` distinct lemmas drawn in proportion to df, each as
        a random surface form."""
        p = self.lemma_df / self.lemma_df.sum()
        return self._surface(
            self.rng.choice(p.size, size=n_terms, replace=False, p=p)
        )

    def banded_query(self, n_terms: int) -> str:
        """Like ``query``, but term i is drawn (in proportion to df) from
        the i-th band of lemmas ranked by df: the top 10, ranks 10-99, and
        the rest. A query of a given length then always pairs the same
        kinds of terms, so its plan cost does not swing with the seed,
        while the terms themselves still vary and the tail still misses
        the engine's dictionary memo."""
        order = np.argsort(-self.lemma_df, kind="stable")
        bands = (order[:10], order[10:100], order[100:])
        lemma = []
        for band in bands[:n_terms]:
            w = self.lemma_df[band].astype(np.float64)
            lemma.append(self.rng.choice(band, p=w / w.sum()))
        return self._surface(np.array(lemma))

    def batch_queries(self) -> list[str]:
        """One search_many batch: two- or three-term queries."""
        return [
            self.query(int(self.rng.integers(2, 4)))
            for _ in range(self.sizes.batch_queries)
        ]


def apply_upsert(net: pd.DataFrame, batch: pd.DataFrame) -> pd.DataFrame:
    """The net corpus after an upsert batch: a (conv_id, turn_idx) key in
    both keeps the batch's row."""
    keys = ["conv_id", "turn_idx"]
    merged = pd.concat([net, batch], ignore_index=True)
    return merged.drop_duplicates(keys, keep="last").reset_index(drop=True)


def term_sharing(batch: list[str], analyze) -> float:
    """Analyzed term occurrences over distinct analyzed terms in a batch
    (1.0 = no two queries share a term)."""
    terms = [t for q in batch for t in set(analyze(q))]
    return len(terms) / max(1, len(set(terms)))


def corpus_shape(oracle) -> dict:
    """Turns, vocabulary, top-5 df and summed df of an oracle index."""
    df = oracle.term_stats["df"].sort_values(ascending=False)
    return {
        "turns": int(oracle.n_docs),
        "vocabulary": int(len(df)),
        "top5_df": [int(x) for x in df.head(5)],
        "sum_df": int(df.sum()),
    }
