"""Seeded input generation.

Pages and the generator's truth pairs come from ``dedup.datagen`` — the
driver-side twin of ``datagen.gen_pages``, row-identical to it at any
partitioning — once per (seed, size), outside any timed region, and are
cached as parquet under the benchmark's work dir. The program under test
only ever sees the pages parquet; the truth table is read by the
correctness gate alone.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


#: cached input sets kept in the work dir (oldest are deleted first)
CACHE_KEEP = 12


@dataclass
class Inputs:
    pages: pd.DataFrame  # url, warc_ts, html, text, lang — every generated row once
    truth: pd.DataFrame  # url, dup_of_url, kind
    parts: list[str]     # parquet dir per split, in the order given


def _write_pages(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf.reset_index(drop=True), schema=_PAGES_SCHEMA, preserve_index=False)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def build(work: str, seed: int, splits: list[tuple[str, int, int]]) -> Inputs:
    """Generate ``max(stop)`` pages for ``seed`` and write one parquet dir
    per ``(name, start, stop)`` row range. Cached: a second call with the
    same seed and splits reads the cache instead of regenerating."""
    from dedup.datagen import gen_pages_pdf

    n = max(stop for _, _, stop in splits)
    key = f"s{seed}-n{n}-" + "-".join(f"{nm}{a}_{b}" for nm, a, b in splits)
    root = os.path.join(work, "inputs", key)
    done = os.path.join(root, "_DONE")
    parts = [os.path.join(root, nm) for nm, _, _ in splits]
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        pages, truth = gen_pages_pdf(n, seed=seed)
        for (_, a, b), path in zip(splits, parts):
            _write_pages(pages.iloc[a:b], path)
        pq.write_table(pa.Table.from_pandas(truth.reset_index(drop=True), preserve_index=False),
                       os.path.join(root, "truth.parquet"))
        open(done, "w").close()
        _prune(os.path.dirname(root), keep=CACHE_KEEP)
    pages = pd.concat(
        [pq.read_table(p).to_pandas() for p in parts], ignore_index=True
    ).drop_duplicates("url", ignore_index=True)
    truth = pq.read_table(os.path.join(root, "truth.parquet")).to_pandas()
    return Inputs(pages=pages, truth=truth, parts=parts)


def _prune(cache: str, keep: int) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(cache, d)), d) for d in os.listdir(cache)
    )
    for _, d in entries[:-keep]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
