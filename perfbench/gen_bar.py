"""Seeded bar-ETL inputs shaped like the reference data (FIXTURES.md B1-B4).

For one seed this writes the bar-stock CSV and, for every slice, a snapshot
of the three sales files. Snapshot ``k`` holds every row of slices
``0..k``, the way the reference's source files grow between runs. Each
slice's timestamps lie in their own time block, strictly after the previous
block and at least a minute apart, so a strict ``>`` watermark admits
exactly the new slice (the New York file has minute grain).

Quirks reproduced per FIXTURES.md:
- B1 ``budapest.csv.gz``: gzip CSV with a leading index column and the
  Hungarian header ``,TS,ital,költség``.
- B2 ``london_transactions.csv.gz``: gzip TSV with no header.
- B3 ``ny.csv.gz``: gzip CSV with ``MM-dd-yyyy HH:mm`` timestamps.
- B4 ``bar_data.csv``: 31 glass types × 3 bars, ``stock`` mostly digits
  with dirty values such as ``34 glasses``.

Files are byte-identical for the same seed: gzip headers carry no name or
time.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import os

import numpy as np

BARS = ("budapest", "london", "new york")
SALES_FILES = {
    "budapest": "budapest.csv.gz",
    "london": "london_transactions.csv.gz",
    "new york": "ny.csv.gz",
}
_FIRST = ["Sweet", "Blue", "Frozen", "Dirty", "Spicy", "Royal", "Tropical",
          "Kool-Aid", "Golden", "Black", "Cherry", "Mango", "Smoky", "Wild",
          "Lemon", "Midnight", "Vanilla", "Ginger", "Apple", "Coconut"]
_SECOND = ["Sangria", "Slammer", "Mojito", "Paradise", "Lagoon", "Martini",
           "Sour", "Fizz", "Mule", "Punch", "Spritz", "Daiquiri", "Margarita",
           "Colada", "Negroni", "Sunrise", "Collins", "Cobbler", "Julep",
           "Smash"]
GLASSES = [
    # the five glasses the canned cocktail API returns (http_source)
    "highball glass", "martini glass", "old-fashioned glass", "coupe",
    "shot glass",
    "margarita/coupette glass", "collins glass", "cocktail glass",
    "hurricane glass", "wine glass", "beer mug", "beer glass", "pint glass",
    "champagne flute", "whiskey sour glass", "cordial glass", "brandy snifter",
    "white wine glass", "red wine glass", "nick and nora glass", "copper mug",
    "irish coffee cup", "punch bowl", "pitcher", "mason jar", "parfait glass",
    "pousse cafe glass", "jar", "balloon glass", "coffee mug", "beer pilsner",
]
_BLOCK = dt.timedelta(hours=6)  # one slice's time span
_GAP = dt.timedelta(minutes=2)  # between slices: > the NY minute grain
_EPOCH = dt.datetime(2020, 12, 25, 16, 0, 0)


def drinks(seed: int, n: int = 230) -> list[str]:
    """``n`` distinct mixed-case drink names (the reference has ~230)."""
    rng = np.random.default_rng(seed)
    pairs = [(a, b) for a in _FIRST for b in _SECOND]
    pick = rng.choice(len(pairs), n, replace=False)
    return [f"{pairs[i][0]} {pairs[i][1]}" for i in sorted(pick)]


def _gzip_bytes(text: str) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0,
                       compresslevel=1) as f:
        f.write(text.encode("utf-8"))
    return buf.getvalue()


def _slice_lines(rng, bar, names, prices, k, first_idx, n) -> list[str]:
    """Rows of slice ``k`` for one bar, formatted as that bar's file does."""
    start = _EPOCH + k * (_BLOCK + _GAP)
    secs = np.sort(rng.integers(0, int(_BLOCK.total_seconds()), n))
    picks = rng.integers(0, len(names), n)
    sep = "\t" if bar == "london" else ","
    fmt = "%m-%d-%Y %H:%M" if bar == "new york" else "%Y-%m-%d %H:%M:%S"
    return [
        sep.join((str(first_idx + i),
                  (start + dt.timedelta(seconds=int(s))).strftime(fmt),
                  names[p], prices[p]))
        for i, (s, p) in enumerate(zip(secs, picks))
    ]


_HEADERS = {"budapest": ",TS,ital,költség\n", "london": "", "new york": ",time,drink,amount\n"}


def _stock_text(rng) -> str:
    lines = ["glass_type,stock,bar"]
    for bar in BARS:
        for glass in GLASSES:
            stock = str(int(rng.integers(5, 400)))
            if glass == "highball glass" and bar == "new york":
                stock = "34 glasses"  # the reference's own dirty row
            elif rng.random() < 0.05:
                stock += " glasses"
            lines.append(f"{glass},{stock},{bar}")
    return "\n".join(lines) + "\n"


def layout(out_dir: str, n_slices: int) -> dict:
    """The paths ``generate`` writes: ``bar_data`` and, per snapshot
    ``k = 0..n_slices``, one sales file per bar."""
    return {
        "bar_data": os.path.join(out_dir, "bar_data.csv"),
        "slices": [{bar: os.path.join(out_dir, f"slice_{k}", SALES_FILES[bar]) for bar in BARS}
                   for k in range(n_slices + 1)],
    }


def generate(out_dir: str, seed: int, base_rows: int, slice_rows: int,
             n_slices: int) -> dict:
    """Write ``bar_data.csv`` and ``slice_<k>/`` snapshots for
    ``k = 0..n_slices``; slice 0 has ``base_rows`` sales rows per bar and
    every later slice adds ``slice_rows`` per bar. Returns ``layout``."""
    rng = np.random.default_rng(seed)
    paths = layout(out_dir, n_slices)
    names = drinks(seed)
    os.makedirs(out_dir, exist_ok=True)
    with open(paths["bar_data"], "w", encoding="utf-8") as f:
        f.write(_stock_text(rng))
    # one menu per bar: a fixed price per drink, as in the reference files
    menus = {bar: [repr(round(float(p), 2)) for p in rng.uniform(2.99, 12.0, len(names))]
             for bar in BARS}
    lines: dict[str, list[str]] = {bar: [] for bar in BARS}
    for k, snap in enumerate(paths["slices"]):
        for bar in BARS:
            n = base_rows if k == 0 else slice_rows
            lines[bar] += _slice_lines(
                rng, bar, names, menus[bar], k, len(lines[bar]), n)
            os.makedirs(os.path.dirname(snap[bar]), exist_ok=True)
            with open(snap[bar], "wb") as f:
                f.write(_gzip_bytes(_HEADERS[bar] + "\n".join(lines[bar]) + "\n"))
    return paths
