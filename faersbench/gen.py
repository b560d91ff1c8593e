"""Seeded FAERS-shaped input generator for the end-to-end benchmark.

Writes, for one (workload, seed):

- ``fda/part-NNNNN.jsonl``: nested openFDA adverse-event reports
  (``patient.reaction[]``, ``patient.drug[]`` with ``openfda`` name arrays);
- ``chembl.jsonl``: the ChEMBL molecule dump (id, name, synonyms, tradeNames);
- ``blacklist.txt``: reaction terms the pipeline must drop;
- ``meddra/MedAscii/{pt,llt}.asc``: ``$``-delimited MedDRA term files;
- ``truth_pairs.csv``: the cleaned (report, drug name, reaction, ChEMBL id)
  rows the pipeline must derive, computed here independently of Spark;
- ``meta.json``: planted drug->reaction signals, term sets and counts.

Every reference filter case is present: reporter qualification 1-5 (and
missing), the death flag (``"1"``, ``"0"`` and absent), drug
characterization 1/2/3, ``^``-encoded apostrophes, mixed case and padding,
blacklisted reactions, product names that map to no ChEMBL molecule, and
truncated (malformed) JSON lines.  Drug and reaction popularity is
Zipf-distributed.  The same seed always gives byte-identical files.
"""

from __future__ import annotations

import csv
import json
import random
from bisect import bisect_left
from dataclasses import asdict, dataclass
from itertools import accumulate
from pathlib import Path

FORMAT_VERSION = 1
SIGNALS = 8  # planted drug -> reaction pairs
BLACKLIST_TERMS = 12
TRUNCATED_SHARE = 0.001

_SYLLABLES = (
    "ba be bi bo bu ca ce ci co cu da de di do du fa fe fi fo fu ga ge gi go "
    "ka ke ki ko ku la le li lo lu ma me mi mo mu na ne ni no nu pa pe pi po "
    "ra re ri ro ru sa se si so su ta te ti to tu va ve vi vo xa xi za ze zo"
).split()
_DRUG_SUFFIXES = ("mab", "nib", "pril", "sartan", "statin", "olol", "azole",
                  "cillin", "vir", "dine", "pam", "tide", "mycin", "caine")
_REACTION_WORDS = (
    "acute chronic severe hepatic renal cardiac gastric cutaneous ocular "
    "vascular neural muscular pulmonary abdominal dorsal oral nasal "
    "pain failure injury disorder rash swelling bleeding infection "
    "syndrome toxicity reaction insufficiency lesion oedema spasm"
).split()


@dataclass(frozen=True)
class Shape:
    """Size and mix of one generated corpus."""

    reports: int
    files: int
    drugs: int
    reactions: int
    reactions_per_report: tuple[int, int]
    drugs_per_report: tuple[int, int]
    zipf: float = 1.1


def _name(rng: random.Random, parts: int) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(parts))


def _unique(rng: random.Random, make, n: int, taken: set[str]) -> list[str]:
    out = []
    while len(out) < n:
        s = make(rng)
        if s not in taken:
            taken.add(s)
            out.append(s)
    return out


def _zipf_cdf(n: int, s: float) -> list[float]:
    return list(accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


def _draw(rng: random.Random, cdf: list[float]) -> int:
    return min(bisect_left(cdf, rng.random() * cdf[-1]), len(cdf) - 1)


def _normalize_term(s: str | None) -> str | None:
    """Python twin of ``functions.normalize.normalize_term`` (lower, trim
    spaces, ``^`` -> ``'``)."""
    if s is None:
        return None
    return s.lower().strip(" ").replace("^", "'")


def _vary_case(rng: random.Random, s: str) -> str:
    r = rng.random()
    if r < 0.2:
        return s.upper()
    if r < 0.3:
        return s.title()
    return s


def generate(out: Path, shape: Shape, seed: int) -> dict:
    """Write one corpus under ``out``; return its ``meta.json`` content."""
    rng = random.Random(seed)
    out.mkdir(parents=True, exist_ok=True)

    # ---- vocabularies ---------------------------------------------------
    taken: set[str] = set()
    pref = _unique(rng, lambda r: _name(r, 2) + r.choice(_DRUG_SUFFIXES),
                   shape.drugs, taken)
    drugs = []  # (chembl_id, pref_name, synonyms, trade_names)
    for j, name in enumerate(pref):
        synonyms = _unique(rng, lambda r: _name(r, 3), rng.randint(0, 2), taken)
        trades = _unique(rng, lambda r: _name(r, 2).capitalize() + "x",
                         rng.randint(0, 2), taken)
        drugs.append((f"CHEMBL{100000 + j}", name, synonyms, trades))
    unmapped = _unique(rng, lambda r: "zz" + _name(r, 3), max(20, shape.drugs // 10),
                       taken)

    reactions = []
    seen_r: set[str] = set()
    while len(reactions) < shape.reactions:
        words = rng.sample(_REACTION_WORDS, 2) + [_name(rng, 2)]
        term = " ".join(words)
        if rng.random() < 0.05:
            term = words[0] + "'s " + " ".join(words[1:])
        if term not in seen_r:
            seen_r.add(term)
            reactions.append(term)
    # blacklisted terms sit among the popular reactions so the anti-join
    # removes a visible share of pairs
    blacklisted = set(rng.sample(reactions[: max(BLACKLIST_TERMS * 3, 30)],
                                 BLACKLIST_TERMS))

    drug_cdf = _zipf_cdf(shape.drugs, shape.zipf)
    reac_cdf = _zipf_cdf(shape.reactions, shape.zipf)

    # planted signals: fairly popular drugs, each paired with a mid-ranked,
    # non-blacklisted reaction it co-occurs with in most of its reports
    signal_drugs = list(range(1, 1 + SIGNALS))
    candidates = [i for i in range(shape.reactions // 10, shape.reactions)
                  if reactions[i] not in blacklisted]
    signal_reac = rng.sample(candidates, SIGNALS)
    planted = dict(zip(signal_drugs, signal_reac))

    # ---- reports --------------------------------------------------------
    syn_to_chembl: dict[str, str] = {}
    for cid, name, syns, trades in drugs:
        for n in [name, *syns, *trades]:
            syn_to_chembl[n.lower()] = cid
    truth: set[tuple[str, str, str, str]] = set()
    counts = {"reports": shape.reports, "truncated": 0, "qualified": 0}
    files = [
        (out / "fda" / f"part-{k:05d}.jsonl") for k in range(shape.files)
    ]
    files[0].parent.mkdir(parents=True, exist_ok=True)
    handles = [f.open("w", encoding="utf-8") for f in files]
    try:
        for i in range(shape.reports):
            report_id = f"{seed}-{i:08d}"
            n_drug = rng.randint(*shape.drugs_per_report)
            n_reac = rng.randint(*shape.reactions_per_report)
            drug_idx = {_draw(rng, drug_cdf) for _ in range(n_drug)}
            reac_idx = {_draw(rng, reac_cdf) for _ in range(n_reac)}
            for d in drug_idx:
                if d in planted and rng.random() < 0.6:
                    reac_idx.add(planted[d])

            drug_docs, names_per_drug = [], []
            for d in sorted(drug_idx):
                cid, name, syns, trades = drugs[d]
                char = rng.choice("1111123")
                product = name if rng.random() < 0.7 else rng.choice(unmapped)
                doc = {"medicinalproduct": _vary_case(rng, product),
                       "drugcharacterization": char}
                if rng.random() < 0.75:
                    doc["openfda"] = {
                        "generic_name": [s.upper() for s in syns],
                        "brand_name": trades,
                        "substance_name": [name.upper()],
                    }
                drug_docs.append(doc)
                names_per_drug.append((char, doc))
            if rng.random() < 0.1:
                drug_docs.append({"medicinalproduct": rng.choice(unmapped).upper(),
                                  "drugcharacterization": "1"})
                names_per_drug.append(("1", drug_docs[-1]))

            reaction_docs = []
            for r in sorted(reac_idx):
                term = reactions[r].replace("'", "^")
                term = _vary_case(rng, term)
                if rng.random() < 0.05:
                    term = "  " + term + " "
                reaction_docs.append({"reactionmeddrapt": term})

            doc = {"safetyreportid": report_id,
                   "serious": rng.choice(["1", "2"]),
                   "receivedate": f"2020{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}"}
            qualification = rng.choice(["1", "2", "3", "4", "5", None])
            if qualification is not None:
                doc["primarysource"] = {"qualification": qualification}
            death = rng.random()
            if death < 0.05:
                doc["seriousnessdeath"] = "1"
            elif death < 0.15:
                doc["seriousnessdeath"] = "0"
            doc["patient"] = {"reaction": reaction_docs, "drug": drug_docs}
            line = json.dumps(doc, separators=(",", ":"))

            truncated = rng.random() < TRUNCATED_SHARE
            if truncated:
                counts["truncated"] += 1
                line = line[: rng.randint(10, len(line) - 2)]
            handles[i % len(handles)].write(line + "\n")
            if truncated or qualification not in ("1", "2", "3"):
                continue
            if doc.get("seriousnessdeath", "0") != "0":
                continue
            counts["qualified"] += 1
            cleaned_reactions = {
                t for t in (_normalize_term(x["reactionmeddrapt"])
                            for x in reaction_docs)
                if t and t not in blacklisted
            }
            for char, ddoc in names_per_drug:
                if char != "1":
                    continue
                fda = ddoc.get("openfda", {})
                names = {ddoc["medicinalproduct"].lower()}
                for key in ("generic_name", "brand_name", "substance_name"):
                    names.update(n.lower() for n in fda.get(key, []))
                for n in names:
                    cid = syn_to_chembl.get(n)
                    if cid is None:
                        continue
                    for t in cleaned_reactions:
                        truth.add((report_id, n, t, cid))
    finally:
        for h in handles:
            h.close()

    # ---- dimension files ------------------------------------------------
    with (out / "chembl.jsonl").open("w", encoding="utf-8") as f:
        for cid, name, syns, trades in drugs:
            f.write(json.dumps({"id": cid, "name": name.upper(),
                                "synonyms": syns, "tradeNames": trades}) + "\n")
    with (out / "blacklist.txt").open("w", encoding="utf-8") as f:
        for t in sorted(blacklisted):
            f.write(" " + _vary_case(rng, t.replace("'", "^")) + "\n")

    # MedDRA: most terms carry a preferred-term code; a share only a
    # low-level-term code; the rest none (meddraCode stays null)
    meddra_dir = out / "meddra" / "MedAscii"
    meddra_dir.mkdir(parents=True, exist_ok=True)
    codes: dict[str, str] = {}
    with (meddra_dir / "pt.asc").open("w", encoding="utf-8") as pt, \
            (meddra_dir / "llt.asc").open("w", encoding="utf-8") as llt:
        for k, term in enumerate(reactions):
            u = rng.random()
            if u < 0.7:
                code = str(10000000 + k)
                pt.write(f"{code}${term.capitalize()}$$10029205$$$$$$$$\n")
                codes[term] = code
            elif u < 0.9:
                code = str(20000000 + k)
                llt.write(f"{code}${term.upper()}${10000000 + k}$$$$$$$$$\n")
                codes[term] = code

    with (out / "truth_pairs.csv").open("w", encoding="utf-8", newline="") as f:
        w = csv.writer(f)
        w.writerow(["safetyreportid", "drug_name", "reaction", "chembl_id"])
        w.writerows(sorted(truth))

    meta = {
        "format_version": FORMAT_VERSION,
        "seed": seed,
        "shape": asdict(shape),
        "counts": {**counts, "truth_rows": len(truth)},
        "planted": sorted([drugs[d][0], reactions[r]] for d, r in planted.items()),
        "blacklisted": sorted(blacklisted),
        "chembl_ids": [d[0] for d in drugs],
        "synonyms": sorted(syn_to_chembl),
        "meddra_codes": codes,
    }
    (out / "meta.json").write_text(json.dumps(meta))
    return meta
