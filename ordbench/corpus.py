"""Deterministic ORD-shaped corpus for the ``ord_etl`` workload.

One seed gives one corpus, byte for byte. The corpus has two parts:

* a golden document store: per-dataset nested JSON documents in the
  shape ``sources.ord.GOLDEN_DOC`` reads, split over several files,
  one of them truncated (a planted malformed file);
* raw scrape records: one JSONL row per scraped reaction, ``data``
  holding the pre-formatter JSON (``sources.ord.RAW_REACTION``, int
  enum codes) and a ``success`` flag, with a planted share of
  malformed ``data`` payloads.

Shares come from the largest captured scrape (BASELINE.md §2 and
FIXTURES.md A.2: 55 datasets, 237 reactions, 1,119 input components,
284 outcomes): the dataset-size mix (at most 5 reactions, one
100-reaction dataset in 55), components and outcomes per reaction,
identifier types, reaction roles, amount branches and units. What the
capture does not show is planted at a fixed test rate and named so
below: empty datasets, unknown enum codes, components without or with
several identifiers, 7-product outcomes, measurements, extra keys,
malformed scrape records and a truncated store file. ``Truth`` holds
the counts each layer must reproduce.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import asdict, dataclass

# Observed counts (FIXTURES.md A.2), used as sampling weights.
ROLE_WEIGHTS = {"REACTANT": 724, "SOLVENT": 297, "CATALYST": 72,
                "REAGENT": 16, "UNSPECIFIED": 5, "INTERNAL_STANDARD": 5}
ID_WEIGHTS = {"SMILES": 1090, "NAME": 7, "INCHI": 7}
# moles 418, volume 354 and mass 1 of 1,119 components; the rest have
# no amount. mass is planted at 11 (~1%) so every corpus has it.
AMOUNT_WEIGHTS = {"moles": 418, "volume": 354, "mass": 11, "empty": 336}
# unit name → (raw code, observed count)
UNITS = {"moles": {"MOLE": (1, 418)},
         "volume": {"LITER": (1, 350), "MILLILITER": (2, 4)},
         "mass": {"GRAM": (2, 1)}}
# ORD enum codes of the raw scrape payload (functions/enums.py)
ROLE_CODES = {"UNSPECIFIED": 0, "REACTANT": 1, "REAGENT": 2, "SOLVENT": 3,
              "CATALYST": 4, "INTERNAL_STANDARD": 6}
ID_TYPES = {"SMILES": 2, "INCHI": 3, "NAME": 6}
TABS = ["amine", "aryl halide", "base", "catalyst", "ligand", "solvent",
        "metal", "additive", "m1", "m2_m3", "reagent 1"]
# Dataset sizes: 1 in 55 datasets has 100 reactions, the rest 1-5
# (BASELINE.md §2: maximum 100, 50 datasets of at most 5).
REFERENCE_SIZE = 100
# Planted test rates (not observed in the capture).
EMPTY_SHARE = 0.02         # datasets with no reactions
UNKNOWN_SHARE = 0.01       # identifiers with a code outside every map
NO_ID_SHARE = 0.02         # components without identifiers
MULTI_ID_SHARE = 0.01      # components with three identifiers
SEVEN_PRODUCT_SHARE = 0.02  # reactions with a 7-product outcome
MEASURED_SHARE = 0.05      # products with measurements
EXTRA_KEY_SHARE = 0.2      # input tabs with an undeclared key
MALFORMED_SHARE = 0.03     # malformed raw scrape records
SUCCESS_SHARE = 0.9
DESIRED_SHARE = 0.95
UNKNOWN_CODE = 97          # outside every enum map → decodes to UNKNOWN
MALFORMED_RECORDS = ["", "not json", '{"reactionId": ', "[1, 2"]
STORE_FILES = 8            # well-formed store files
DROPPED_DATASETS = 3       # datasets in the one malformed store file
DROPPED_SIZE = 5
RAW_FILES = 4


def _pick(rng: random.Random, weights: dict):
    return rng.choices(list(weights), weights=list(weights.values()))[0]


@dataclass(frozen=True)
class Truth:
    """Counts the pipeline must reproduce on this corpus."""
    datasets: int             # datasets in well-formed store files
    empty_datasets: int
    generated: int            # reactions written, malformed file included
    reactions: int            # reactions in well-formed store files (all
                              # ``generate`` was asked for)
    successful: int
    component_rows: int       # components_flat rows
    outcome_rows: int         # outcomes_flat rows
    malformed_files: int
    dropped_datasets: int     # datasets inside the malformed file
    raw_records: int
    raw_malformed: int
    unknown_codes: int        # identifier types planted as UNKNOWN_CODE
    amount_kinds: dict        # moles/volume/mass/empty component counts
    store_files: list
    raw_files: list

    @property
    def raw_ok(self) -> int:
        return self.raw_records - self.raw_malformed


def _dataset_sizes(reactions: int) -> list[int]:
    """Dataset sizes summing to ``reactions``: one 100-reaction
    dataset per 54 small ones of 1-5 reactions (mean 3), plus the
    planted empty datasets. The multiset is the same for every seed
    (the seed only orders it), so every corpus is the same amount of
    work."""
    n_ref = max(1, round(reactions / (REFERENCE_SIZE + 54 * 3)))
    rest = reactions - n_ref * REFERENCE_SIZE
    small = []
    while rest > 0:
        small.append(min(len(small) % 5 + 1, rest))
        rest -= small[-1]
    n_empty = max(1, round(EMPTY_SHARE * (n_ref + len(small))))
    return [REFERENCE_SIZE] * n_ref + small + [0] * n_empty


def _identifiers(rng: random.Random, stats: dict) -> list[tuple[int, str]]:
    u = rng.random()
    n = 0 if u < NO_ID_SHARE else 3 if u < NO_ID_SHARE + MULTI_ID_SHARE \
        else 1
    ids = []
    for _ in range(n):
        if rng.random() < UNKNOWN_SHARE:
            code = UNKNOWN_CODE
            stats["unknown"] += 1
        else:
            code = ID_TYPES[_pick(rng, ID_WEIGHTS)]
        ids.append((code, f"C{rng.randrange(10**6)}O{rng.randrange(99)}"))
    return ids


def _component(rng: random.Random, stats: dict) -> dict:
    kind = _pick(rng, AMOUNT_WEIGHTS)
    stats[kind] += 1
    amount = None
    if kind != "empty":
        name = _pick(rng, {u: w for u, (_, w) in UNITS[kind].items()})
        amount = (kind, round(rng.uniform(0.001, 50.0), 4),
                  (name, UNITS[kind][name][0]))
    return {"ids": _identifiers(rng, stats), "amount": amount,
            "role": _pick(rng, ROLE_WEIGHTS)}


def _product_count(rng: random.Random) -> int:
    """About 1.1 products per reaction (284 outcomes / 237 reactions):
    mostly one, a few none or two, and the planted 7-product share."""
    u = rng.random()
    if u < SEVEN_PRODUCT_SHARE:
        return 7
    if u < 0.05:
        return 0
    return 2 if u < 0.10 else 1


def _reaction(rng: random.Random, stats: dict, rid: str) -> dict:
    """Abstract reaction; rendered below in golden and raw form. Tab
    count and components per tab vary (no per-tab figure was captured)
    and average 4.5 components per reaction against the observed 4.7
    (1,119 / 237)."""
    tabs = rng.sample(TABS, rng.randint(1, 5))
    inputs = []
    for tab in tabs:
        n = rng.choice([0, 1, 1, 2, 2, 3])
        inputs.append((tab, [_component(rng, stats) for _ in range(n)],
                       rng.random() < EXTRA_KEY_SHARE))
    products = []
    for _ in range(_product_count(rng)):
        meas = []
        if rng.random() < MEASURED_SHARE:
            meas = [(9, rng.choice(["", "HPLC", "isolated"]),
                     round(rng.uniform(0.1, 999.0), 3)
                     if rng.random() < 0.7 else None)
                    for _ in range(rng.choice([1, 2]))]
        products.append({"ids": _identifiers(rng, stats),
                         "desired": rng.random() < DESIRED_SHARE,
                         "meas": meas})
    return {"id": rid, "success": rng.random() < SUCCESS_SHARE,
            "inputs": inputs, "products": products}


def _id_name(code: int) -> str:
    return next((k for k, v in ID_TYPES.items() if v == code), "UNKNOWN")


def _golden(r: dict) -> dict:
    pairs = []
    for tab, comps, extra in r["inputs"]:
        payload = {"components": [{
            "identifiers": [{"type": _id_name(c), "value": v}
                            for c, v in comp["ids"]],
            "amount": ({} if comp["amount"] is None else
                       {comp["amount"][0]: {"value": comp["amount"][1],
                                            "units": comp["amount"][2][0]}}),
            "reaction_role": comp["role"]} for comp in comps]}
        if extra:  # a key the schema does not declare
            payload["addition_order"] = 1
        pairs.append([tab, payload])
    outcomes = [{
        "identifiers": [{"type": _id_name(c), "value": v}
                        for c, v in p["ids"]],
        "reaction_role": "PRODUCT",
        "is_desired_product": p["desired"],
        "measurements": [{"type": t, "details": d,
                          "mass": (None if m is None else
                                   {"value": m, "units": "MILLIGRAM"})}
                         for t, d, m in p["meas"]]} for p in r["products"]]
    return {"reaction_id": r["id"], "success": r["success"],
            "inputsMap": pairs, "outcomes": outcomes}


def _raw(r: dict) -> dict:
    pairs = []
    for tab, comps, extra in r["inputs"]:
        payload = {"componentsList": [{
            "identifiersList": [{"type": c, "value": v}
                                for c, v in comp["ids"]],
            "amount": ({} if comp["amount"] is None else
                       {comp["amount"][0]: {"value": comp["amount"][1],
                                            "units": comp["amount"][2][1]}}),
            "reactionRole": ROLE_CODES[comp["role"]]} for comp in comps]}
        if extra:
            payload["additionOrder"] = 1
        pairs.append([tab, payload])
    products = [{
        "identifiersList": [{"type": c, "value": v} for c, v in p["ids"]],
        "isDesiredProduct": p["desired"],
        "measurementsList": [{"type": t, "details": d,
                              "amount": ({} if m is None else
                                         {"mass": {"value": m, "units": 3}})}
                             for t, d, m in p["meas"]]}
        for p in r["products"]]
    return {"reactionId": r["id"], "inputsMap": pairs,
            "outcomesList": [{"productsList": products}]}


def _dump(obj) -> str:
    return json.dumps(obj, separators=(",", ":"))


def generate(out_dir: str, seed: int, reactions: int) -> Truth:
    """Write a corpus whose well-formed store files hold exactly
    ``reactions`` reactions under ``out_dir`` (``store/`` and ``raw/``)
    and return its truth."""
    rng = random.Random(seed)
    stats = {"unknown": 0, "moles": 0, "volume": 0, "mass": 0, "empty": 0}
    sizes = _dataset_sizes(reactions)
    rng.shuffle(sizes)
    datasets = []
    for size in sizes:
        dsid = f"ord_dataset-{rng.getrandbits(64):016x}"
        rs = [_reaction(rng, stats, f"ord-{rng.getrandbits(64):016x}")
              for _ in range(size)]
        datasets.append((dsid, rs))

    store = os.path.join(out_dir, "store")
    raw = os.path.join(out_dir, "raw")
    os.makedirs(store)
    os.makedirs(raw)
    truth = {"datasets": len(datasets), "empty": 0, "reactions": 0,
             "successful": 0, "comp_rows": 0, "out_rows": 0}
    for _, rs in datasets:
        truth["empty"] += not rs
        for r in rs:
            truth["reactions"] += 1
            truth["successful"] += r["success"]
            truth["comp_rows"] += sum(max(1, len(c["ids"]))
                                      for _, comps, _ in r["inputs"]
                                      for c in comps)
            truth["out_rows"] += sum(max(1, len(p["ids"]))
                                     for p in r["products"])
    # datasets go round-robin over STORE_FILES files; one more file
    # holds a fixed number of extra datasets and is written truncated
    # (the malformed file), so the work a pass does is the same for
    # every seed
    dropped = [(f"ord_dataset-{rng.getrandbits(64):016x}",
                [_reaction(rng, stats, f"ord-{rng.getrandbits(64):016x}")
                 for _ in range(DROPPED_SIZE)])
               for _ in range(DROPPED_DATASETS)]
    groups = [datasets[k::STORE_FILES] for k in range(STORE_FILES)]
    store_files = []
    for k, group in enumerate(groups + [dropped]):
        text = _dump({dsid: {"dataset_id": dsid,
                             "total_reactions_scraped": len(rs),
                             "reactions": [_golden(r) for r in rs]}
                      for dsid, rs in group})
        if group is dropped:
            text = text[: len(text) // 2]
        name = os.path.join(store, f"ord_store-{k:03d}.json")
        with open(name, "w", encoding="utf-8") as f:
            f.write(text)
        store_files.append(name)

    # raw scrape records: every reaction once, plus the planted share
    # of malformed payloads, interleaved deterministically
    records = [{"data": _dump(_raw(r)), "success": r["success"]}
               for _, rs in datasets for r in rs]
    n_bad = max(len(MALFORMED_RECORDS),
                round(len(records) * MALFORMED_SHARE))
    for j in range(n_bad):
        pos = rng.randrange(len(records) + 1)
        payload = MALFORMED_RECORDS[j % len(MALFORMED_RECORDS)]
        records.insert(pos, {"data": payload or None, "success": False})
    raw_files = []
    for k in range(RAW_FILES):
        name = os.path.join(raw, f"scrape-{k:03d}.jsonl")
        with open(name, "w", encoding="utf-8") as f:
            for rec in records[k::RAW_FILES]:
                f.write(_dump(rec) + "\n")
        raw_files.append(name)

    return Truth(
        generated=reactions + DROPPED_DATASETS * DROPPED_SIZE,
        datasets=truth["datasets"], empty_datasets=truth["empty"],
        reactions=truth["reactions"], successful=truth["successful"],
        component_rows=truth["comp_rows"], outcome_rows=truth["out_rows"],
        malformed_files=1, dropped_datasets=DROPPED_DATASETS,
        raw_records=len(records), raw_malformed=n_bad,
        unknown_codes=stats["unknown"],
        amount_kinds={k: stats[k] for k in ("moles", "volume", "mass",
                                            "empty")},
        store_files=store_files, raw_files=raw_files)


def truth_counts(t: Truth) -> dict:
    """The truth without file paths, for comparing two corpora."""
    d = asdict(t)
    del d["store_files"], d["raw_files"]
    return d
