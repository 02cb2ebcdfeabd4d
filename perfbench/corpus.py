"""Seeded inputs, cached on disk by seed and size.

Every input derives from the ``--seed`` argument alone: the page corpus,
its golden triples and the changed/new page set of the refresh
workload. Pages and golden triples come from the same
per-document generator that ``fixtures.pages.pages_df`` maps over a
Spark range (``gen_doc``/``render_html``/``render_text``), run here in
the driver so that no Spark session exists before the timed set-up
starts. Generation is kept out of every metric; a cached corpus is
reused by later runs with the same seed in the same checkout.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from ferenda_spark.fixtures.pages import gen_corpus_pandas

# Several files, so the scan splits into several tasks at every core
# count (Spark gives each small file its own partition).
FILES = 8


def _write(pdf, path: str) -> None:
    """Write ``pdf`` as FILES parquet files; the rename makes a
    half-written corpus invisible to a later run."""
    tmp = f"{path}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    step = -(-len(pdf) // FILES)
    for i in range(FILES):
        part = pdf.iloc[i * step:(i + 1) * step]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(tmp, f"part-{i:05d}.parquet"),
                       coerce_timestamps="us",
                       allow_truncated_timestamps=True)
    os.replace(tmp, path)


def _generate(n: int, seed: int):
    """(pages, golden triples) of documents 1..n. Pages with NULL html
    are left out: they fail both build paths today."""
    pages, golden, _ = gen_corpus_pandas(n, seed)
    return pages[pages.html.notna()].reset_index(drop=True), golden


def fresh_inputs(cache: str, seed: int, n: int) -> tuple[str, str]:
    """(pages, golden triples) parquet directories."""
    d = os.path.join(cache, f"s{seed}-n{n}")
    pages_dir, golden_dir = (os.path.join(d, "pages"),
                             os.path.join(d, "golden"))
    if not os.path.exists(golden_dir):
        pages, golden = _generate(n, seed)
        _write(pages, pages_dir)
        _write(golden, golden_dir)
    return pages_dir, golden_dir


def refresh_inputs(cache: str, seed: int, n: int, changed_permille: int,
                   new_permille: int) -> tuple[str, str, int, int]:
    """(base corpus, updated corpus, #changed, #new) for the refresh
    workload.

    Both come from one corpus of ``n`` + new documents, so new pages
    cite into the same id space. The base holds documents 1..n; the
    updated corpus rewrites a seeded ``changed_permille`` of them (same
    url, an extra citing paragraph in the html) and adds the new
    pages."""
    n_new = n * new_permille // 1000
    n_changed = n * changed_permille // 1000
    d = os.path.join(cache,
                     f"s{seed}-n{n}-c{changed_permille}-a{new_permille}")
    base_dir, updated_dir = (os.path.join(d, "base"),
                             os.path.join(d, "updated"))
    if not os.path.exists(updated_dir):
        full, _ = _generate(n + n_new, seed)
        base = full.iloc[:n]
        _write(base, base_dir)
        rng = random.Random(f"perfbench-changed:{seed}")
        updated = full.copy()
        for i in rng.sample(range(n), n_changed):
            errata = (f"<p>Errata: see [RFC {rng.randint(2, n)}] and "
                      f"section 2.1 of [RFC {rng.randint(2, n)}].</p>"
                      "</body>")
            updated.at[i, "html"] = updated.at[i, "html"].replace(
                b"</body>", errata.encode(), 1)
        _write(updated, updated_dir)
    return base_dir, updated_dir, n_changed, n_new

