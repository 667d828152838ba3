"""Self-test of the NCA PDF generator: one seed ingests to exactly its truth.

    python3 perfbench/selftest.py

Checks, in order: every row pattern occurs; each PDF parses back (through
the engine's minipdf parser) to exactly the rows the generator wrote; and
the publications, amended ones included, loaded in order through
extraction, ``promote_header``, ``clean_raw_rows`` and
``NCAStore.load_batch``, leave the store equal to ``store_truth``. Exits
non-zero on the first mismatch.
"""

from __future__ import annotations

import os
import shutil
import sys

import run

SEED = 3
COUNT = 5


def main() -> int:
    work = os.path.join(run.HERE, ".work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    try:
        run._configure(work)
        return _check(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _check(work: str) -> int:
    import ncagen
    from dbm_nca_ph_etl_spark.sources.minipdf import MiniPdfParser

    pubs = ncagen.publications(SEED, COUNT, pages=2, amend_share=1.0)
    cov = ncagen.coverage(pubs)
    missing = [k for k, v in cov.items() if not v]
    if missing:
        print(f"FAIL patterns missing: {missing}")
        return 1
    for p in pubs:
        parser = MiniPdfParser()
        got = [row for n in range(1, parser.page_count(p.pdf) + 1)
               for row in parser.extract_page(p.pdf, n)]
        if got != p.rows:
            print(f"FAIL {p.release_id} v{p.version}: PDF rows differ from the generator's")
            return 1

    from dbm_nca_ph_etl_spark.nca.cleaner import clean_raw_rows, promote_header
    from dbm_nca_ph_etl_spark.sinks.merge import NCAStore
    from dbm_nca_ph_etl_spark.sources.pdf_source import (
        extract_raw_cells_from_paths,
        get_parser,
    )

    spark = run._start_spark(work, len(os.sched_getaffinity(0)))
    try:
        store = NCAStore(spark, os.path.join(work, "store"))
        for p in pubs:
            path = os.path.join(work, f"{p.release_id}-v{p.version}.pdf")
            with open(path, "wb") as fh:
                fh.write(p.pdf)
            files = spark.createDataFrame([(p.release_id, path)], "release_id string, path string")
            raw = promote_header(extract_raw_cells_from_paths(files, get_parser("minipdf")))
            store.load_batch(*clean_raw_rows(raw))
        want_rec, want_alloc = ncagen.store_truth(pubs)
        for table, want in (("record", want_rec), ("allocation", want_alloc)):
            cols = list(want[0])
            got = sorted(tuple(r[c] for c in cols) for r in store.read(table).collect())
            exp = sorted(tuple(d[c] for c in cols) for d in want)
            if got != exp:
                extra, lost = set(got) - set(exp), set(exp) - set(got)
                print(f"FAIL {table}: {len(got)} rows vs {len(exp)} expected; "
                      f"unexpected {sorted(extra)[:2]}, missing {sorted(lost)[:2]}")
                return 1
    finally:
        run._stop_spark(spark)
    print(f"ok: {COUNT} publications ({sum(p.version > 1 for p in pubs)} amended), "
          f"{len(want_rec)} records, {len(want_alloc)} allocations, coverage {cov}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
