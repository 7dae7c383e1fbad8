"""Exception types the engine raises at its caller boundary."""


class QueryArgumentError(ValueError):
    """A caller passed arguments the engine refuses: an unknown scoring
    mode, plan or snapshot id, a forced plan or ``exclude=`` composed
    with options it cannot serve, a bad suggest/phrase/facet argument, a
    mutation (ingest, delete, compaction) of a directory that holds no
    complete index, a caller n_buckets that differs from the index's.
    ``EngineAPI`` turns exactly these into its ``{"result": False,
    "error": ...}`` envelope; any other ``ValueError`` is an engine
    fault and propagates."""
