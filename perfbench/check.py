"""Answer checks against the in-repo single-node oracle.

Every page the engine returns is compared with ``oracle.oracle_search``
over the net corpus the engine indexed at that moment. Scores must match
bit for bit. Documents are matched by their (conv_id, turn_idx) key,
because doc ids differ once upserts have replaced documents, and modulo
ties: any document with the same score may fill a place in the page.
"""

from __future__ import annotations

from collections import defaultdict


class OracleChecker:
    """Full oracle rankings per (corpus state, query), computed once."""

    def __init__(self, build_oracle_index, oracle_search):
        self._build = build_oracle_index
        self._search = oracle_search
        self._oracles: dict[int, object] = {}
        self._rankings: dict[tuple[int, str], tuple[list, dict]] = {}

    def oracle(self, state: int, corpus) -> object:
        if state not in self._oracles:
            self._oracles[state] = self._build(corpus)
        return self._oracles[state]

    def ranking(self, state: int, query: str) -> tuple[list, dict]:
        """All matches as ((conv_id, turn_idx), score), best first, and
        the keys that hold each score."""
        key = (state, query)
        if key not in self._rankings:
            idx = self._oracles[state]
            hits = self._search(idx, query, k=idx.n_docs)
            docs = idx.documents.set_index("doc_id").loc[hits["doc_id"]]
            full = list(zip(
                zip(docs["conv_id"], docs["turn_idx"].astype(int)),
                hits["score"].tolist(),
            ))
            keys_at: dict[float, set] = defaultdict(set)
            for k, score in full:
                keys_at[score].add(k)
            self._rankings[key] = (full, keys_at)
        return self._rankings[key]

    def page_ok(self, state: int, query: str, offset: int, limit: int,
                data: list[dict]) -> bool:
        """True iff ``data`` (the API's page rows) is a correct page."""
        full, keys_at = self.ranking(state, query)
        want = [score for _, score in full[offset:offset + limit]]
        if [row["relevance"] for row in data] != want:
            return False
        seen = set()
        for row in data:
            key = (row["conv_id"], int(row["turn_idx"]))
            if key in seen or key not in keys_at[row["relevance"]]:
                return False
            seen.add(key)
        return True
