"""ORD reaction-document ingestion, normalization and re-nesting.

This is the reference's semantic core rebuilt Spark-first:

* ``read_ord_documents`` ingests the nested per-dataset JSON document
  store the reference emits (web_scrpaer_2.py:530-548) into one row
  per reaction.
* ``format_reactions`` is the formatter (format_reaction_data,
  web_scrpaer_2.py:82-192) as declarative column expressions over
  a payload parsed once: enum decode, oneof-amount normalization,
  outcomesList×productsList flattening — no Python in the plan.
* ``components_flat`` / ``outcomes_flat`` / ``dataset_rollup`` are
  the silver tables (FIXTURES.md A.3).
* ``renest_documents`` rebuilds the per-dataset nested shape
  (agg_collect_list semantics, web_scrpaer_2.py:541-543).

The raw ``inputsMap`` is a protobuf-map-as-entry-list whose entries
are *heterogeneous* JSON pairs ``[tab_name, input_object]``; Spark's
JSON reader can't type that directly, so the bronze pass reads each
pair as ``array<string>`` (the parser stringifies the object) and a
second ``from_json`` inside a ``transform`` lambda parses the
payload half — the two-pass parse stays entirely JVM-side.

Each stage's projection lists are built once per JVM and reused by
every later call. A PySpark ``Column`` is a handle on a JVM object,
so building one of these trees from Python costs one py4j round-trip
per node: rebuilding them on every call (the enum map literals, the
``transform`` lambdas) made the driver, not the executors, the
bottleneck of a pipeline pass (~7,000 round-trips, against ~600
with the trees reused). The trees hold no session state (names
resolve and confs apply when a ``select`` analyzes them), so one
copy serves every session of the JVM; a new gateway rebuilds them.
Only whole stage lists are memoized, never a sub-expression nested
inside another, so one cached lambda variable never appears twice in
one tree.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import TypeVar

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.enums import (
    IDENTIFIER_TYPES,
    MASS_UNITS,
    MOLES_UNITS,
    REACTION_ROLES,
    VOLUME_UNITS,
    decode_enum,
)

# ---------------------------------------------------------------------------
# Schemas (DDL strings; SURVEY.md §1.3 canonical shape)

UNIT_F = "struct<value: double, units: string>"
AMOUNT_F = (f"struct<moles: {UNIT_F}, volume: {UNIT_F}, mass: {UNIT_F}>")
IDENT_F = "struct<type: string, value: string>"
MEAS_F = f"struct<type: int, details: string, mass: {UNIT_F}>"
COMPONENT_F = (f"struct<identifiers: array<{IDENT_F}>, amount: {AMOUNT_F}, "
               "reaction_role: string>")
INPUT_F = f"struct<components: array<{COMPONENT_F}>>"
OUTCOME_F = (f"struct<identifiers: array<{IDENT_F}>, reaction_role: string, "
             f"is_desired_product: boolean, measurements: array<{MEAS_F}>>")

# Golden-file reaction (formatted, enum codes already strings).
GOLDEN_REACTION = ("struct<reaction_id: string, success: boolean, "
                   "inputsMap: array<array<string>>, "
                   f"outcomes: array<{OUTCOME_F}>>")
GOLDEN_DATASET = ("struct<dataset_id: string, total_reactions_scraped: long, "
                  f"reactions: array<{GOLDEN_REACTION}>>")
GOLDEN_DOC = f"map<string, {GOLDEN_DATASET}>"

# Raw scraped reaction payload (pre-formatter; int enum codes,
# protobuf-style *List field names — web_scrpaer_2.py:104-182).
UNIT_R = "struct<value: double, units: int>"
IDENT_R = "struct<type: int, value: string>"
RAW_COMPONENT = (f"struct<identifiersList: array<{IDENT_R}>, "
                 f"amount: struct<moles: {UNIT_R}, volume: {UNIT_R}, "
                 f"mass: {UNIT_R}>, reactionRole: int>")
RAW_INPUT = f"struct<componentsList: array<{RAW_COMPONENT}>>"
RAW_MEAS = (f"struct<type: int, details: string, "
            f"amount: struct<mass: {UNIT_R}>>")
RAW_PRODUCT = (f"struct<identifiersList: array<{IDENT_R}>, "
               f"isDesiredProduct: boolean, "
               f"measurementsList: array<{RAW_MEAS}>>")
RAW_REACTION = ("struct<reactionId: string, "
                "inputsMap: array<array<string>>, "
                f"outcomesList: array<struct<"
                f"productsList: array<{RAW_PRODUCT}>>>>")


# ---------------------------------------------------------------------------
# Projection lists, built once per JVM

Projections = tuple[tuple[Column | str, ...], ...]
_P = TypeVar("_P")


def once_per_jvm(build: Callable[..., _P]) -> Callable[..., _P]:
    """Memoize ``build(*args)`` per py4j JVM (``SparkContext._jvm``).

    The result must be immutable (tuples of Columns): every caller
    gets the same object. A call under a different JVM than the one
    the cached Columns live in rebuilds them."""
    built: dict[tuple, tuple[object, _P]] = {}

    @functools.wraps(build)
    def cached(*args):
        jvm = SparkContext._jvm
        hit = built.get(args)
        if hit is None or hit[0] is not jvm:
            hit = built[args] = (jvm, build(*args))
        return hit[1]
    return cached


def _project(df: DataFrame, projections: Projections) -> DataFrame:
    for cols in projections:
        df = df.select(*cols)
    return df


def _posinline_outer(arr: str, pos: str,
                     fields: Callable[[Column], tuple[Column, ...]]) -> Column:
    """``posexplode_outer(arr)`` and a projection of each element as one
    generator, so it needs no ``select`` of its own: one row per
    element with its ordinal ``pos`` and the named ``fields(element)``;
    a null or empty array gives one all-null row."""
    return F.inline_outer(F.transform(
        arr, lambda x, i: F.struct(i.alias(pos), *fields(x))))


# ---------------------------------------------------------------------------
# Bronze: golden document ingestion

def _pairs_to_map(pairs: Column, payload_schema: str) -> Column:
    """[key, json-string] pair array → map<string, parsed struct>."""
    return F.map_from_entries(F.transform(
        pairs,
        lambda p: F.struct(
            p[0].alias("key"),
            F.from_json(p[1], payload_schema).alias("value"))))


def read_ord_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read a formatted ORD document store → one row per reaction.

    Output: dataset_id, total_reactions_scraped, reaction_pos,
    reaction_id, success, inputs map<tab, INPUT_F>, outcomes.
    PERMISSIVE parsing: a malformed file yields a null map (the
    reference's try/except guard, web_scrpaer_2.py:451-456).
    """
    return _project(spark.read.text(path, wholetext=True),
                    _document_projections())


@once_per_jvm
def _document_projections() -> Projections:
    return (
        (F.explode(F.from_json("value", GOLDEN_DOC, {"mode": "PERMISSIVE"}))
         .alias("map_key", "ds"),),
        (F.col("ds.dataset_id").alias("dataset_id"),
         F.col("ds.total_reactions_scraped").alias("total_reactions_scraped"),
         _posinline_outer("ds.reactions", "reaction_pos", lambda r: (
             r["reaction_id"].alias("reaction_id"),
             r["success"].alias("success"),
             _pairs_to_map(r["inputsMap"], INPUT_F).alias("inputs"),
             r["outcomes"].alias("outcomes")))))


# ---------------------------------------------------------------------------
# The formatter: raw scrape records → canonical formatted rows

def _decode_identifiers(ids: Column) -> Column:
    """identifiersList (int type) → identifiers (string type).

    ``.get('type', 0)`` → UNKNOWN fallback reproduces
    web_scrpaer_2.py:104-113."""
    return F.transform(ids, lambda i: F.struct(
        decode_enum(F.coalesce(i["type"], F.lit(0)), IDENTIFIER_TYPES)
        .alias("type"),
        i["value"].alias("value")))


def _decode_unit(u: Column, mapping: dict[int, str]) -> Column:
    return F.struct(
        u["value"].alias("value"),
        decode_enum(F.coalesce(u["units"], F.lit(0)), mapping)
        .alias("units"))


def _normalize_amount(amt: Column) -> Column:
    """Oneof pick: first present of moles/volume/mass, decoded —
    exactly the if/elif chain at web_scrpaer_2.py:126-145."""
    null_unit = F.lit(None).cast(UNIT_F)
    return (
        F.when(amt["moles"].isNotNull(), F.struct(
            _decode_unit(amt["moles"], MOLES_UNITS).alias("moles"),
            null_unit.alias("volume"), null_unit.alias("mass")))
        .when(amt["volume"].isNotNull(), F.struct(
            null_unit.alias("moles"),
            _decode_unit(amt["volume"], VOLUME_UNITS).alias("volume"),
            null_unit.alias("mass")))
        .when(amt["mass"].isNotNull(), F.struct(
            null_unit.alias("moles"), null_unit.alias("volume"),
            _decode_unit(amt["mass"], MASS_UNITS).alias("mass")))
        .otherwise(F.struct(null_unit.alias("moles"),
                            null_unit.alias("volume"),
                            null_unit.alias("mass"))))


def _or_empty(col: F.Column, elem_ddl: str) -> F.Column:
    """NULL-to-empty-array default (``coalesce(col, [])``) with the
    element type spelled once — the formatter needs this six times
    and the copies must stay in lockstep."""
    return F.coalesce(col, F.array().cast(f"array<{elem_ddl}>"))


def format_reactions(scraped: DataFrame,
                     data_col: str = "data",
                     success_col: str = "success") -> DataFrame:
    """The reference formatter as declarative projections: the
    payload is parsed once, then one projection builds each row.

    Input: one row per scrape result with ``data`` a raw JSON string
    (shape RAW_REACTION) and a ``success`` flag — the reference's
    result dict (web_scrpaer_2.py:378,385). Rows with null/corrupt
    data yield null structures, never errors (PERMISSIVE semantics,
    matching the try/except at :451-456).

    Output columns: reaction_id, success, inputs map<string,INPUT_F>,
    outcomes array<OUTCOME_F> — the canonical schema §1.3.
    """
    return _project(scraped, _format_projections(data_col, success_col))


@once_per_jvm
def _format_projections(data_col: str, success_col: str) -> Projections:
    # The payload is parsed once, in its own projection: the optimizer
    # prunes each ``from_json(...)[field]`` into a parse of its own,
    # and does not collapse a costly expression into a projection that
    # references it more than once.
    parse = (
        F.from_json(F.col(data_col), RAW_REACTION, {"mode": "PERMISSIVE"})
        .alias("d"),
        F.coalesce(F.col(success_col), F.lit(True)).alias("success"))
    d = F.col("d")

    inputs = F.map_from_entries(F.transform(
        d["inputsMap"],
        lambda pair: F.struct(
            pair[0].alias("key"),
            F.struct(F.transform(
                _or_empty(F.from_json(pair[1], RAW_INPUT)["componentsList"],
                          RAW_COMPONENT),
                lambda c: F.struct(
                    _decode_identifiers(
                        _or_empty(c["identifiersList"], IDENT_R))
                    .alias("identifiers"),
                    _normalize_amount(c["amount"]).alias("amount"),
                    decode_enum(c["reactionRole"], REACTION_ROLES)
                    .alias("reaction_role"),
                )).alias("components")).alias("value"))))

    outcomes = F.flatten(F.transform(
        _or_empty(d["outcomesList"],
                  f"struct<productsList: array<{RAW_PRODUCT}>>"),
        lambda o: F.transform(
            _or_empty(o["productsList"], RAW_PRODUCT),
            lambda p: F.struct(
                _decode_identifiers(
                    _or_empty(p["identifiersList"], IDENT_R))
                .alias("identifiers"),
                F.lit("PRODUCT").alias("reaction_role"),
                F.coalesce(p["isDesiredProduct"], F.lit(False))
                .alias("is_desired_product"),
                F.transform(
                    _or_empty(p["measurementsList"], RAW_MEAS),
                    lambda m: F.struct(
                        m["type"].alias("type"),
                        m["details"].alias("details"),
                        F.when(m["amount"]["mass"].isNotNull(),
                               _decode_unit(m["amount"]["mass"], MASS_UNITS))
                        .alias("mass"))).alias("measurements")))))

    return parse, (
        d["reactionId"].alias("reaction_id"),
        "success",
        F.when(d["inputsMap"].isNotNull(), inputs)
        .otherwise(F.map_from_entries(
            F.array().cast("array<struct<key: string, "
                           f"value: {INPUT_F}>>"))).alias("inputs"),
        outcomes.alias("outcomes"))


# ---------------------------------------------------------------------------
# Silver: flattened relational views (FIXTURES.md A.3)

def components_flat(reactions: DataFrame) -> DataFrame:
    """One row per (input tab, component, identifier)."""
    return _project(reactions, _component_projections())


@once_per_jvm
def _component_projections() -> Projections:
    amount_kind = (
        F.when(F.col("c.amount.moles").isNotNull(), "moles")
        .when(F.col("c.amount.volume").isNotNull(), "volume")
        .when(F.col("c.amount.mass").isNotNull(), "mass"))
    amount = F.coalesce("c.amount.moles", "c.amount.volume", "c.amount.mass")
    return (
        ("dataset_id", "reaction_id",
         F.explode("inputs").alias("tab", "input")),
        ("dataset_id", "reaction_id", "tab",
         F.posexplode("input.components").alias("component_idx", "c")),
        ("dataset_id", "reaction_id", "tab", "component_idx",
         _posinline_outer("c.identifiers", "identifier_idx", _identifier),
         amount_kind.alias("amount_kind"),
         amount["value"].alias("amount_value"),
         amount["units"].alias("amount_units"),
         F.col("c.reaction_role").alias("reaction_role")))


def _identifier(ident: Column) -> tuple[Column, ...]:
    return ident["type"].alias("id_type"), ident["value"].alias("id_value")


def outcomes_flat(reactions: DataFrame) -> DataFrame:
    """One row per (product, identifier), first measurement joined."""
    return _project(reactions, _outcome_projections())


@once_per_jvm
def _outcome_projections() -> Projections:
    # try_element_at: plain element_at on an EMPTY (non-null) array
    # THROWS under Spark 4's default ANSI mode — and the formatter
    # (and the reference, web_scrpaer_2.py product_info) emit
    # "measurements": [] routinely; try_ returns NULL instead.
    meas = F.try_element_at("o.measurements", F.lit(1))
    return (
        ("dataset_id", "reaction_id",
         F.posexplode("outcomes").alias("product_idx", "o")),
        ("dataset_id", "reaction_id", "product_idx",
         _posinline_outer("o.identifiers", "identifier_idx", _identifier),
         F.col("o.is_desired_product").alias("is_desired_product"),
         meas["type"].alias("meas_type"),
         meas["details"].alias("meas_details"),
         meas["mass"]["value"].alias("meas_mass_value"),
         meas["mass"]["units"].alias("meas_mass_units")))


def dataset_rollup(reactions: DataFrame) -> DataFrame:
    """Per-dataset totals — web_scrpaer_2.py:461-462."""
    return reactions.groupBy("dataset_id").agg(*_rollup_aggregates())


@once_per_jvm
def _rollup_aggregates() -> tuple[Column, ...]:
    return (F.count("reaction_id").alias("total_reactions"),
            F.sum(F.when(F.col("success"), 1).otherwise(0))
            .alias("successful_scrapes"))


# ---------------------------------------------------------------------------
# Re-nest: rows → per-dataset nested document (round-trip)

def renest_documents(reactions: DataFrame) -> DataFrame:
    """Rebuild the per-dataset nested record the reference writes
    (web_scrpaer_2.py:530-543): successful reactions only, reaction
    order preserved via the ingestion ordinal."""
    return reactions.groupBy("dataset_id").agg(*_renest_aggregates())


@once_per_jvm
def _renest_aggregates() -> tuple[Column, ...]:
    keep = F.col("reaction_id").isNotNull() & F.col("success")
    # collect_list drops nulls → zero-reaction datasets keep an empty
    # array (reference keeps empty dataset records,
    # web_scrpaer_2.py:441-442). The null must wrap the OUTER struct,
    # not a field of it. The two collect_list calls are one aggregate
    # (the planner merges equal aggregate expressions).
    positioned = F.collect_list(F.when(keep, F.struct(
        "reaction_pos",
        F.struct(
            "reaction_id", "success",
            F.map_entries("inputs").alias("inputsMap"),
            "outcomes").alias("reaction"))))
    return (F.size(positioned).cast("long").alias("total_reactions_scraped"),
            F.transform(F.array_sort(positioned),
                        lambda s: s["reaction"]).alias("reactions"))
