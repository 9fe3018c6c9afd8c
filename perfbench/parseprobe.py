"""Per-page parse probe: driver-side, no Spark.

Times the public page parsers exactly as the pipeline's UDFs call them
(hot-field projection for term pages, pipeline sections for zidian) on a
seeded sample of a workload's own pages, and counts how often the flat
scan (``fast_hot_chengyu`` / ``fast_hot_ciyu``) accepts a term page.
"""

from __future__ import annotations

import random
import time

from kgpipe.parse.chengyu import HOT_FIELDS as CHENGYU_HOT
from kgpipe.parse.chengyu import parse_chengyu_html
from kgpipe.parse.ciyu import HOT_FIELDS as CIYU_HOT
from kgpipe.parse.ciyu import parse_ciyu_html
from kgpipe.parse.fastterm import fast_hot_chengyu, fast_hot_ciyu
from kgpipe.parse.hanzi import parse_hanzi_html
from kgpipe.pipeline import PIPELINE_HANZI_SECTIONS

FAMILIES = {
    "chengyu": lambda html, path: parse_chengyu_html(html, path, fields=CHENGYU_HOT),
    "cidian": lambda html, path: parse_ciyu_html(html, path, fields=CIYU_HOT),
    "zidian": lambda html, path: parse_hanzi_html(html, path, sections=PIPELINE_HANZI_SECTIONS),
}
FLAT = {"chengyu": fast_hot_chengyu, "cidian": fast_hot_ciyu}


def probe(rows: list[dict], seed: int, per_family: int = 120, repeats: int = 3) -> dict:
    """{family: us_per_page (median of ``repeats`` sweeps)} plus
    ``flat_accept_ratio`` over the sampled term pages (None when the
    sample has no term pages)."""
    rng = random.Random(seed)
    out: dict = {}
    accepted = attempted = 0
    for fam, parse in FAMILIES.items():
        pages = [(r["path"], r["content"]) for r in rows if r["path"].startswith(fam + "/")]
        if not pages:
            out[fam] = None
            continue
        sample = rng.sample(pages, min(per_family, len(pages)))
        sweeps = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            for path, html in sample:
                parse(html, path)
            sweeps.append((time.perf_counter() - t0) / len(sample) * 1e6)
        out[fam] = sorted(sweeps)[len(sweeps) // 2]
        if fam in FLAT:
            for _path, html in sample:
                attempted += 1
                accepted += FLAT[fam](html) is not None
    out["flat_accept_ratio"] = accepted / attempted if attempted else None
    return out
