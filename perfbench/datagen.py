"""The research job's raw input (FIXTURES.md §3 shape), generated from the
benchmark seed, together with the invariants the output check needs.

The registry items read the committed tables under ``data/`` instead: copies
of the repository's deterministic test tables (TESTDATA.md, data seed 42).
"""

from __future__ import annotations

import json
import os
import random

_PAPER_WORDS = (
    "virus protein cell receptor vaccine antibody transmission symptom "
    "respiratory infection clinical trial genome sequence mutation"
).split()


def _papers(rng: random.Random, n: int) -> list[dict]:
    papers = []
    for i in range(n):
        abstract = [
            {
                "text": " ".join(rng.choices(_PAPER_WORDS, k=rng.randint(6, 18))) + ".",
                "cite_spans": [], "ref_spans": [], "eq_spans": [],
                "section": "Abstract",
            }
            for _ in range(rng.randint(1, 8))
        ]
        authors = [
            {
                "first": f"F{a}",
                "middle": [f"M{a}"] if rng.random() < 0.3 else [],
                "last": f"L{i}_{a}",
                "suffix": "",
                "affiliation": {
                    "laboratory": "",
                    "institution": f"Inst{rng.randint(1, 20)}",
                    "location": {
                        "addrLine": None, "country": rng.choice(["US", "CN", "DE"]),
                        "postBox": None, "postCode": None, "region": None,
                        "settlement": None,
                    },
                },
                "email": f"a{a}@inst.org" if rng.random() < 0.5 else "",
            }
            for a in range(rng.randint(1, 5))
        ]
        papers.append({
            "paper_id": f"paper{i:05d}",
            "metadata": {"title": f"Study {i}", "authors": authors},
            "abstract": abstract,
            "body_text": abstract[:1],
            "bib_entries": {
                "BIBREF0": {
                    "ref_id": "b0", "title": "Ref", "authors": [], "year": 2020,
                    "venue": "J", "volume": "1", "issn": "", "pages": "1-2",
                    "other_ids": {"DOI": []},
                }
            },
            "ref_entries": {
                "FIGREF0": {"text": "Figure 1", "latex": None, "type": "figure"}
            },
            "back_matter": [],
        })
    return papers


def write_etl_inputs(out_dir: str, seed: int, papers: int = 40) -> dict:
    """Write the research job's input (one multiline JSON file per paper)
    for ``seed``; return its path and the invariants the output check
    compares against."""
    rng = random.Random(seed)
    cord = os.path.join(out_dir, "cord19")
    os.makedirs(cord, exist_ok=True)
    docs = _papers(rng, papers)
    for p in docs:
        with open(os.path.join(cord, f"{p['paper_id']}.json"), "w") as f:
            json.dump(p, f, indent=1)
    email_authors = sum(1 for p in docs for a in p["metadata"]["authors"] if a["email"])
    return {
        "research": cord,
        "expect": {
            "research": {
                "paper_authors": email_authors,
                "paper_abstracts": len(docs),
            },
        },
        "paper_ids": sorted(p["paper_id"] for p in docs),
    }
