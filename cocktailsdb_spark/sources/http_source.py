"""REST-API dimension source — SURVEY.md §2.1 S5.

The reference fetches TheCocktailDB per distinct drink, sequentially, and
treats ANY error/non-200/empty payload as an empty result so the pipeline
continues (build_database.py:28-46,184-201). This module keeps those
semantics but makes the transport injectable (tests/oracle runs use the
deterministic fake below; no network) and adds retry.

Scale posture: at 238 keys the fan-out belongs on the driver (a Spark job
would be overhead); ``fetch_distributed`` is the mapInPandas variant for a
large key set — each partition performs its own HTTP calls, so the fan-out
parallelism equals the partition count and nothing funnels through the
driver.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

from ..schemas import COCKTAILS

API_URL = "https://www.thecocktaildb.com/api/json/v1/1/search.php?s={key}"
PROJECT_COLS = [f.name for f in COCKTAILS.fields]

Transport = Callable[[str], list[dict]]


def http_transport(key: str, timeout: float = 10.0) -> list[dict]:
    """Real transport: GET search.php?s=<key>, JSON 'drinks' array or []."""
    url = API_URL.format(key=urllib.parse.quote(key))
    with urllib.request.urlopen(url, timeout=timeout) as resp:  # pragma: no cover
        if resp.status != 200:
            return []
        payload = json.loads(resp.read().decode("utf-8"))
    return payload.get("drinks") or []


def fake_transport(key: str) -> list[dict]:
    """Deterministic canned transport (FIXTURES.md B5): two records per key
    differing only in dateModified (exercises latest-wins dedup), empty for
    every 7th key length (exercises the error→empty path). Pure arithmetic
    on the key string so the DuckDB oracle can reproduce it exactly."""
    import hashlib

    if len(key) % 7 == 0:
        return []
    categories = ["cocktail", "shot", "ordinary drink"]
    glasses = [
        "highball glass",
        "martini glass",
        "old-fashioned glass",
        "coupe",
        "shot glass",
    ]
    id_drink = hashlib.md5(key.encode("utf-8")).hexdigest()[:8]
    base = {
        "idDrink": id_drink,
        "strDrink": key,
        "strCategory": categories[len(key) % 3],
        "strIBA": None if len(key) % 2 == 0 else "iba",
        "strAlcoholic": "alcoholic",
        "strGlass": glasses[ord(key[-1]) % 5],
        "ignored_extra_col": "dropped by projection",
    }
    return [
        {**base, "dateModified": "2021-01-01 10:00:00"},
        {**base, "dateModified": "2021-01-02 10:00:00"},
    ]


def fetch_rows(
    keys: Iterable[str],
    transport: Transport,
    max_retries: int = 2,
    backoff_sec: float = 0.5,
) -> list[dict]:
    """Driver-side sequential fan-out with retry; error → empty (reference
    semantics at build_database.py:34-44). Projects to the 7 dim columns."""
    out: list[dict] = []
    for key in keys:
        records: list[dict] = []
        for attempt in range(max_retries + 1):
            try:
                records = transport(key)
                break
            except Exception:
                if attempt == max_retries:
                    records = []
                else:
                    time.sleep(backoff_sec * (2**attempt))
        for r in records:
            out.append({c: r.get(c) for c in PROJECT_COLS})
    return out


MAX_DRIVER_KEYS = 10_000


def bounded_keys(df: DataFrame, col: str, cap: int = MAX_DRIVER_KEYS) -> list[str]:
    """Collect a DISTINCT key list to the driver with a hard cap: the
    driver-side fetch/pivot pattern is only valid for dimension-sized key
    sets (the reference's is 238 rows). Collecting cap+1 and raising keeps
    a silently-grown dimension from becoming a driver OOM — the error
    names the scale path to switch to."""
    rows = df.select(col).distinct().orderBy(col).limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"driver-side key collect exceeds {cap} distinct {col!r} values; "
            "use fetch_distributed (mapInPandas) or a join instead"
        )
    return [r[col] for r in rows]


def fetch_df(
    spark: SparkSession, keys: Iterable[str], transport: Transport = http_transport
) -> DataFrame:
    """S5 driver-side variant: collected distinct keys → rows → DataFrame.

    The rows go to the JVM as one Arrow table (a ``LocalRelation``), not
    through ``createDataFrame(list)``, whose Python RDD would make every
    job reading the dimension run a Python worker. Arrow is safe here
    because every column is a string: no timestamp conversion is involved."""
    import pyarrow as pa

    rows = fetch_rows(keys, transport)
    table = pa.table(
        {c: pa.array([r[c] for r in rows], pa.string()) for c in PROJECT_COLS}
    )
    return spark.createDataFrame(table, schema=COCKTAILS)


def fetch_distributed(
    keys_df: DataFrame, transport: Transport = http_transport
) -> DataFrame:
    """S5 scale variant: mapInPandas over a one-column `key` DataFrame;
    each partition fetches its keys independently."""
    import pandas as pd

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = fetch_rows(pdf["key"].tolist(), transport)
            yield pd.DataFrame(rows, columns=PROJECT_COLS)

    schema_ddl = ", ".join(f"{c} string" for c in PROJECT_COLS)
    return keys_df.mapInPandas(_fetch, schema=schema_ddl)
