"""External REST enrichment with a persisted cache (SURVEY §2.1 S7,
§2.10 D8).

The reference resolves compound→SMILES by trying an internal dict,
then PubChem, then ChEMBL, one compound per second in a driver-side
loop (reference scripts/finalize_realease.py:645-699). The engine
form decomposes that into:

1. a *cache join* — resolved keys come from a persisted lookup table
   (broadcast; reruns are pure joins, zero network), and
2. a *fetch operator* — only cache misses go to the network, via
   ``mapInArrow`` with one fetcher per partition, a rate limiter,
   and in-operator retry (Spark task retries would re-pay the calls
   — SURVEY §2.9 I4). A NULL key is never a miss.

The fetcher is injectable: live HTTP in production, deterministic
stub in CI. New results are returned as a DataFrame the caller
appends to the cache table, so the cache only grows.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aurora_mito_etl_spark.operators.joins import lookup_join_two_tier

# key -> resolved value (None = not found anywhere)
Fetcher = Callable[[str], str | None]
FetcherFactory = Callable[[], Fetcher]

FETCH_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
    ]
)


@dataclass(frozen=True)
class FetchConfig:
    rate_limit_s: float = 1.0
    max_attempts: int = 2
    sleep: Callable[[float], None] = field(default=time.sleep)


def stub_fetcher_factory(table: dict[str, str]) -> FetcherFactory:
    """Deterministic fetcher for tests: resolves from a fixed dict,
    case-insensitively on fallback — the same two-tier intent as the
    reference's internal db."""

    def make() -> Fetcher:
        lowered = {k.lower(): v for k, v in sorted(table.items(), reverse=True)}

        def fetch(key: str) -> str | None:
            return table.get(key) or lowered.get(key.lower())

        return fetch

    return make


def pubchem_chembl_fetcher_factory(timeout_s: float = 30.0) -> FetcherFactory:
    """Live fetcher: PubChem property endpoint, ChEMBL molecule search
    as fallback (reference finalize_realease.py:645-678). Deferred
    import so offline images can import the module."""

    def make() -> Fetcher:
        import requests

        session = requests.Session()

        def fetch(name: str) -> str | None:
            quoted = requests.utils.quote(name)
            try:
                r = session.get(
                    "https://pubchem.ncbi.nlm.nih.gov/rest/pug/compound/name/"
                    f"{quoted}/property/CanonicalSMILES/TXT",
                    timeout=timeout_s,
                )
                if r.ok and r.text.strip():
                    return r.text.strip().splitlines()[0]
            except Exception:  # noqa: BLE001
                pass
            try:
                r = session.get(
                    "https://www.ebi.ac.uk/chembl/api/data/molecule/search.json",
                    params={"q": name},
                    timeout=timeout_s,
                )
                if r.ok:
                    mols = r.json().get("molecules", [])
                    for m in mols:
                        smiles = (m.get("molecule_structures") or {}).get(
                            "canonical_smiles"
                        )
                        if smiles:
                            return smiles
            except Exception:  # noqa: BLE001
                pass
            return None

        return fetch

    return make


def fetch_missing(
    keys: DataFrame,
    fetcher_factory: FetcherFactory,
    key_col: str = "key",
    config: FetchConfig | None = None,
) -> DataFrame:
    """Resolve each distinct non-NULL key via the fetcher →
    (key, value|NULL).

    One fetcher per partition (session reuse); the rate limit is
    per-worker — with P partitions the aggregate rate is P/s, which
    is the lever to stay under an API's global limit (coalesce to 1
    for strict 1/s parity with the reference).
    """
    import pyarrow as pa

    cfg = config or FetchConfig()
    distinct = keys.select(F.col(key_col).cast("string").alias("key")).dropna().distinct()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        fetch = fetcher_factory()
        first = True
        for batch in batches:
            values = []
            for key in batch.column(0).to_pylist():
                if not first and cfg.rate_limit_s > 0:
                    cfg.sleep(cfg.rate_limit_s)
                first = False
                value = None
                for _ in range(cfg.max_attempts):
                    try:
                        value = fetch(key)
                        break
                    except Exception:  # noqa: BLE001 — retried in-operator
                        continue
                values.append(value)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(values, pa.string())], names=FETCH_SCHEMA.names
            )

    return distinct.mapInArrow(run, FETCH_SCHEMA)


def resolve_with_cache(
    df: DataFrame,
    cache: DataFrame,
    fetcher_factory: FetcherFactory,
    key_col: str,
    out_col: str,
    config: FetchConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The full S7 pattern. Returns (resolved_df, new_cache_rows).

    resolved_df = df + `out_col` (exact → case-insensitive cache hit
    → freshly fetched → ''). new_cache_rows are the fetch results to
    append to the cache table so the next run joins instead of
    fetching.
    """
    hit = lookup_join_two_tier(
        df, cache, key=key_col, lookup_key="key", value="value",
        out_col="__cached", default=None,
    )
    # A NULL key is never a miss: fetch_missing drops it, so it
    # resolves to '' and never enters the new cache rows.
    misses = hit.filter(F.col("__cached").isNull()).select(
        F.col(key_col).alias("key")
    )
    # Materialize the fetch ONCE before deriving both outputs: the
    # resolved join and new_cache_rows would otherwise each re-run
    # the fetch stage — every miss fetched twice over the network
    # (double-paid API calls that can also disagree), violating the
    # I4 "never re-pay" invariant.
    fetched = fetch_missing(misses, fetcher_factory, "key", config).localCheckpoint(
        eager=True
    )
    resolved = (
        hit.join(
            F.broadcast(fetched.withColumnRenamed("value", "__fetched")),
            hit[key_col] == fetched["key"],
            "left",
        )
        .withColumn(out_col, F.coalesce("__cached", "__fetched", F.lit("")))
        .drop("key", "__cached", "__fetched")
    )
    return resolved, fetched.filter(F.col("value").isNotNull())
