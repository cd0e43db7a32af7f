"""Seeded workload inputs, built from ``sage_spark.datagen`` page rows.

Everything here is a pure function of the seed: the same seed writes the
same parquet bytes. The program only ever sees the written files.
"""

from __future__ import annotations

from dataclasses import dataclass
from html import escape
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from sage_spark.datagen import build_groups, build_persons, make_page

N_PERSONS = 50
N_GROUPS = 8

# bootstrap: short chat pages plus a share of long pages (> 200 words), so
# build_chunks takes its word-budget path as well as the single-chunk one.
# Sized so per-document work is a visible share of a cold run's CPU while
# a run stays near a minute.
BOOT_SHORT = 3000
BOOT_LONG = 200
LONG_PARTS = 14  # short pages stitched into one long page (~330 words)
BOOT_FILES = 4

# stream_drain: a pre-built store, then one key-colliding batch that also
# repeats some of the stored pages
STREAM_BASE = 100
STREAM_BATCH = 40
STREAM_REPEATED = 20

WEBTEXT_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("sender_id", pa.string()),
        ("receiver_ids", pa.list_(pa.string())),
        ("conversation_id", pa.string()),
        ("conversation_type", pa.string()),
        ("group_id", pa.string()),
        ("message_id", pa.string()),
        ("source", pa.string()),
    ]
)


def persons_for(seed: int) -> list[dict]:
    return build_persons(N_PERSONS, seed)


def groups() -> list[dict]:
    return build_groups(N_GROUPS)


def short_pages(seed: int, persons: list[dict], lo: int, hi: int) -> list[dict]:
    return [make_page(i, seed, persons, N_GROUPS) for i in range(lo, hi)]


def long_page(seed: int, persons: list[dict], i: int) -> dict:
    """One page whose text is ``LONG_PARTS`` chat pages stitched together:
    the metadata of page ``i``, the sentences of pages drawn from an id range
    no short page uses."""
    page = make_page(i, seed, persons, N_GROUPS)
    parts = [
        make_page(2_000_000 + i * LONG_PARTS + k, seed, persons, N_GROUPS)["text"]
        for k in range(LONG_PARTS)
    ]
    text = "\n".join(parts)
    page["text"] = text
    page["html"] = (
        f"<html><head><title>Thread {i}</title></head><body>"
        + "".join(f"<p>{escape(line)}</p>" for line in text.split("\n"))
        + "</body></html>"
    ).encode("utf-8")
    page["url"] = page["url"] + "/thread"
    return page


def write_pages(path: Path, pages: list[dict]) -> int:
    """Write one parquet file of webtext rows; returns its size in bytes."""
    pq.write_table(pa.Table.from_pylist(pages, schema=WEBTEXT_ARROW), path)
    return path.stat().st_size


@dataclass
class Inputs:
    """Generated files and what the checks need to know about them."""

    base: Path | None  # corpus the setup loads into the store, if any
    base_pages: list[dict]
    drop: Path  # file-drop directory the timed drain consumes
    batch_pages: list[list[dict]]  # the pages of each micro-batch, in order
    bytes: int  # bytes of every generated input file
    long_urls: set[str]

    @property
    def drop_rows(self) -> int:
        return sum(len(b) for b in self.batch_pages)


def bootstrap_inputs(root: Path, seed: int) -> Inputs:
    persons = persons_for(seed)
    pages = short_pages(seed, persons, 0, BOOT_SHORT)
    longs = [long_page(seed, persons, 1_000_000 + j) for j in range(BOOT_LONG)]
    pages += longs
    drop = root / "drop"
    drop.mkdir(parents=True)
    size = 0
    for f in range(BOOT_FILES):
        size += write_pages(drop / f"part-{f}.parquet", pages[f::BOOT_FILES])
    return Inputs(
        base=None,
        base_pages=[],
        drop=drop,
        batch_pages=[pages],
        bytes=size,
        long_urls={p["url"] for p in longs},
    )


def stream_inputs(root: Path, seed: int) -> Inputs:
    """Base corpus plus one drop file of new pages from the seed's person
    space, so their canonical keys collide with the base corpus's facts. The
    file also repeats some base pages, which the skip-if-exists path must
    not ingest again."""
    persons = persons_for(seed)
    base_pages = short_pages(seed, persons, 0, STREAM_BASE)
    batch = base_pages[:STREAM_REPEATED] + short_pages(
        seed, persons, 10_000, 10_000 + STREAM_BATCH
    )
    drop = root / "drop"
    drop.mkdir(parents=True)
    base = root / "base.parquet"
    size = write_pages(base, base_pages)
    size += write_pages(drop / "batch-0.parquet", batch)
    return Inputs(
        base=base,
        base_pages=base_pages,
        drop=drop,
        batch_pages=[batch],
        bytes=size,
        long_urls=set(),
    )
