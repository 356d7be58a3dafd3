"""Deterministic synthetic KG + transcript fixtures (seeded, no wall-clock).

Produces the tables described in FIXTURES.md:
- ``kg_items``  — analogue of the reference's Mongo ``items`` collection
  (parse_wikidata_dump.py:178-188 document shape, flattened per SURVEY §1.3)
- ``kg_edges``  — flat (subj, pred, obj) form of the ``objects`` collection
- ``kg_literals`` / ``kg_types`` — flat literal and P31 tables
- ``transcripts`` — (conv_id, turn_idx, role, text, tool, ts) per
  BASELINE.json input_hint, with text synthesized from templates over the
  KG so ground-truth mentions / links / triples are known by construction
- ground-truth DataFrames: ``mentions_truth``, ``triples_truth``,
  ``canonical_truth``

Mention surface variants exercised: exact label, alias, case/whitespace
noise (clean_str path), fuzzy (one edit), PERS dot abbreviations,
ambiguous labels shared by two entities, and NIL names absent from the KG.
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# ---------------------------------------------------------------- name pools
_GIVEN = [
    "john", "maria", "wei", "amara", "liam", "sofia", "noah", "yuki",
    "omar", "elena", "carlos", "ingrid", "raj", "fatima", "pierre", "hana",
    "diego", "olga", "kofi", "mei",
]
_MIDDLE = ["fitzgerald", "anne", "lee", "marie", "james", "rose", "kai", "jo"]
_FAMILY = [
    "kennedy", "rossi", "zhang", "okafor", "novak", "garcia", "tanaka",
    "muller", "silva", "kowalski", "dubois", "ivanov", "haddad", "berg",
    "costa", "smith", "nakamura", "olsen", "peters", "quinn",
]
_ORG_A = ["acme", "globex", "initech", "umbra", "vertex", "nimbus", "zenith",
          "quantum", "stellar", "apex", "borealis", "cobalt"]
_ORG_B = ["labs", "industries", "systems", "dynamics", "analytics", "robotics",
          "software", "logistics", "energy", "media"]
_LOC = [
    "springfield", "rivertown", "lakeview", "maplewood", "cedar falls",
    "ironville", "port haven", "stonebridge", "fairmont", "greenfield",
    "ashford", "brookside", "clearwater", "dunmore", "eastvale",
    "foxcroft", "glenridge", "harborview", "kingsport", "larkspur",
]
_FILM_A = ["crimson", "silent", "endless", "broken", "golden", "hidden",
           "frozen", "burning", "midnight", "scarlet", "electric", "hollow"]
_FILM_B = ["horizon", "empire", "voyage", "garden", "protocol", "symphony",
           "paradox", "kingdom", "harvest", "mirage", "odyssey", "citadel"]

# Predicates (fixed vocabulary; analogue of Wikidata PIDs)
P_DIRECTOR = "P57"       # film -> person
P_EMPLOYER = "P108"      # person -> org
P_HQ = "P159"            # org -> location
P_LOCATED_IN = "P131"    # location -> location
P_CAST = "P161"          # film -> person
PREDICATES = {
    P_DIRECTOR: "director",
    P_EMPLOYER: "employer",
    P_HQ: "headquarters location",
    P_LOCATED_IN: "located in",
    P_CAST: "cast member",
}
TYPE_FILM, TYPE_HUMAN, TYPE_ORG, TYPE_LOC = "Q11424", "Q5", "Q43229", "Q2221906"
TYPE_LABELS = {
    TYPE_FILM: "film", TYPE_HUMAN: "human", TYPE_ORG: "organization",
    TYPE_LOC: "geographic location",
}
_NIL_NAMES = ["zorblat xkcd", "qwerty uiop", "fnord blatherskite", "xylophone zeppelin"]


@dataclass
class KGFixture:
    items: list = field(default_factory=list)      # kg_items rows
    edges: list = field(default_factory=list)      # (subj, pred, obj)
    literals: list = field(default_factory=list)   # (entity, datatype, pred, value)
    types: list = field(default_factory=list)      # (entity, type_id)
    sameas: list = field(default_factory=list)     # (a, b) duplicate-entity pairs
    label_of: dict = field(default_factory=dict)   # qid -> primary en label
    aliases_of: dict = field(default_factory=dict) # qid -> [aliases]
    ner_of: dict = field(default_factory=dict)     # qid -> NERtype
    pop_of: dict = field(default_factory=dict)     # qid -> popularity


def _person_name(rng: random.Random) -> str:
    if rng.random() < 0.4:
        return f"{rng.choice(_GIVEN)} {rng.choice(_MIDDLE)} {rng.choice(_FAMILY)}"
    return f"{rng.choice(_GIVEN)} {rng.choice(_FAMILY)}"


def build_kg(seed: int = 42, n_people: int = 40, n_orgs: int = 15,
             n_locs: int = 12, n_films: int = 25) -> KGFixture:
    rng = random.Random(seed)
    kg = KGFixture()
    next_q = [100]

    def new_qid() -> str:
        next_q[0] += 1
        return f"Q{next_q[0]}"

    def add_item(label: str, ner: str, type_id: str, aliases: list[str],
                 popularity: int, description: str, kind: str = "entity") -> str:
        qid = new_qid()
        kg.items.append({
            "id_entity": next_q[0],
            "entity": qid,
            "description": description,
            "labels": {"en": label},
            "aliases": {"en": aliases} if aliases else {},
            "types": [type_id] if type_id else [],
            "popularity": popularity,
            "kind": kind,
            "NERtype": ner,
        })
        if type_id:
            kg.types.append((qid, type_id))
        kg.label_of[qid] = label
        kg.aliases_of[qid] = aliases
        kg.ner_of[qid] = ner
        kg.pop_of[qid] = popularity
        return qid

    # type + predicate items (kind='type'/'predicate') so type-name
    # resolution (lookup J3) has rows to join against
    for tid, tlabel in TYPE_LABELS.items():
        kg.items.append({
            "id_entity": int(tid[1:]), "entity": tid, "description": f"type {tlabel}",
            "labels": {"en": tlabel}, "aliases": {}, "types": [],
            "popularity": 1000, "kind": "type", "NERtype": None,
        })
        kg.label_of[tid] = tlabel
    for pid, plabel in PREDICATES.items():
        kg.items.append({
            "id_entity": int(pid[1:]) + 10_000_000, "entity": pid,
            "description": f"predicate {plabel}", "labels": {"en": plabel},
            "aliases": {}, "types": [], "popularity": 100,
            "kind": "predicate", "NERtype": None,
        })
        kg.label_of[pid] = plabel

    locs, orgs, people, films = [], [], [], []
    seen_labels: set[str] = set()

    _suffixes = ["ii", "iii", "iv", "v", "vi", "vii", "viii", "ix", "x",
                 "prime", "nova", "ultra", "alpha", "beta", "gamma", "delta"]

    def fresh(gen) -> str:
        for _ in range(50):
            cand = gen()
            if cand not in seen_labels:
                seen_labels.add(cand)
                return cand
        # pools exhausted at large scale points: disambiguate
        # deterministically with suffix words (stay alphabetic so OOV /
        # literal filters are unaffected)
        base = gen()
        for s1 in _suffixes:
            cand = f"{base} {s1}"
            if cand not in seen_labels:
                seen_labels.add(cand)
                return cand
        for s1 in _suffixes:
            for s2 in _suffixes:
                cand = f"{base} {s1} {s2}"
                if cand not in seen_labels:
                    seen_labels.add(cand)
                    return cand
        raise RuntimeError("name pool exhausted")

    for _ in range(n_locs):
        label = fresh(lambda: rng.choice(_LOC) + (f" {rng.choice(['city','county','heights'])}" if rng.random() < 0.5 else ""))
        locs.append(add_item(label, "LOC", TYPE_LOC, [], rng.randint(5, 400), f"a place called {label}"))
    for _ in range(n_orgs):
        label = fresh(lambda: f"{rng.choice(_ORG_A)} {rng.choice(_ORG_B)}")
        alias = label.split(" ")[0]  # short alias, e.g. "acme" for "acme labs"
        orgs.append(add_item(label, "ORG", TYPE_ORG, [alias] if rng.random() < 0.6 else [],
                             rng.randint(10, 800), f"company {label}"))
    for _ in range(n_people):
        label = fresh(lambda: _person_name(rng))
        people.append(add_item(label, "PERS", TYPE_HUMAN, [], rng.randint(1, 300),
                               f"person named {label}"))
    for _ in range(n_films):
        label = fresh(lambda: f"{rng.choice(_FILM_A)} {rng.choice(_FILM_B)}")
        alias = f"the {label}"
        films.append(add_item(label, "OTHERS", TYPE_FILM, [alias] if rng.random() < 0.5 else [],
                              rng.randint(20, 1000), f"film {label}"))

    # ambiguous distractors: low-popularity twins sharing a film label
    for qid in rng.sample(films, max(1, n_films // 8)):
        twin_label = kg.label_of[qid]
        add_item(twin_label, "ORG", TYPE_ORG, [], 2, f"obscure company named {twin_label}")

    # duplicate entities (canonicalization targets): same label+type, sameas edge
    for qid in rng.sample(people, max(1, n_people // 10)):
        dup = add_item(kg.label_of[qid], "PERS", TYPE_HUMAN, [], 1,
                       f"duplicate record of {kg.label_of[qid]}")
        kg.sameas.append((qid, dup))

    # edges — each (subj, obj) pair participates in exactly one predicate,
    # and generator templates only co-locate entities that share an edge
    for film in films:
        director = rng.choice(people)
        kg.edges.append((film, P_DIRECTOR, director))
        for actor in rng.sample(people, rng.randint(1, 3)):
            if actor != director:
                kg.edges.append((film, P_CAST, actor))
    for person in people:
        if rng.random() < 0.7:
            kg.edges.append((person, P_EMPLOYER, rng.choice(orgs)))
    for org in orgs:
        kg.edges.append((org, P_HQ, rng.choice(locs)))
    for i, loc in enumerate(locs):
        if i > 0:
            kg.edges.append((loc, P_LOCATED_IN, locs[rng.randrange(i)]))

    # literals
    for film in films:
        kg.literals.append((film, "DATETIME", "P577", f"{rng.randint(1960, 2024)}-0{rng.randint(1,9)}-1{rng.randint(0,9)}"))
    for org in orgs:
        kg.literals.append((org, "NUMBER", "P1128", str(rng.randint(10, 99999))))

    kg.edges = sorted(set(kg.edges))
    return kg


# ------------------------------------------------------------- transcripts
_TEMPLATES = {
    P_DIRECTOR: "{subj} was directed by {obj}",
    P_EMPLOYER: "{subj} works for {obj}",
    P_HQ: "{subj} is headquartered in {obj}",
    P_LOCATED_IN: "{subj} is located in {obj}",
    P_CAST: "{subj} stars {obj}",
}
_CHITCHAT = [
    "ok sounds good to me", "let me check the docs", "thanks that helps a lot",
    "can you run the numbers again", "the meeting moved to thursday",
    "i will follow up tomorrow morning",
]
_ROLES = ["user", "assistant", "tool"]


def _fuzz(name: str, rng: random.Random) -> str:
    """One-edit typo inside the longest token (deletion or substitution)."""
    toks = name.split(" ")
    i = max(range(len(toks)), key=lambda k: len(toks[k]))
    t = toks[i]
    pos = rng.randrange(1, len(t))
    if rng.random() < 0.5 and len(t) > 3:
        toks[i] = t[:pos] + t[pos + 1:]
    else:
        repl = rng.choice("abcdefghijklmnopqrstuvwxyz".replace(t[pos], "a"))
        toks[i] = t[:pos] + repl + t[pos + 1:]
    return " ".join(toks)


def _dot_abbrev(name: str, rng: random.Random) -> str:
    words = name.split(" ")
    if len(words) < 2:
        return name
    i = rng.randint(1, len(words) - 1)
    out = [w[0] + "." if j < i else w for j, w in enumerate(words[:-1])]
    return " ".join(out + [words[-1]])


def build_transcripts(kg: KGFixture, seed: int = 43, n_convs: int = 8,
                      turns_per_conv: tuple[int, int] = (8, 16),
                      fuzzy_frac: float = 0.04):
    """Synthesize transcripts + ground truth.

    Returns (transcript_rows, mention_truth_rows, triple_truth_rows) where
    mention truth rows are (conv_id, turn_idx, surface, entity, variant) and
    triple truth rows are (conv_id, turn_idx, subj, pred, obj).
    """
    rng = random.Random(seed)
    base_ts = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)
    transcripts, mention_truth, triple_truth = [], [], []
    edges = list(kg.edges)
    # only mention-generating edges whose subj label is unambiguous-or-dominant:
    # ambiguity distractors/duplicates all have popularity <= 2
    dominant = {}
    for row in kg.items:
        lbl = row["labels"].get("en")
        if lbl is None or row["kind"] != "entity":
            continue
        cur = dominant.get(lbl)
        if cur is None or row["popularity"] > cur[1]:
            dominant[lbl] = (row["entity"], row["popularity"])

    def surface_for(qid: str, rng: random.Random):
        """Pick a surface variant; only variants the dictionary can ground."""
        label = kg.label_of[qid]
        roll = rng.random()
        if roll < fuzzy_frac:
            return _fuzz(label, rng), "fuzzy"
        roll = rng.random()
        if kg.aliases_of.get(qid) and roll < 0.25:
            return rng.choice(kg.aliases_of[qid]), "alias"
        if kg.ner_of.get(qid) == "PERS" and roll < 0.45:
            return _dot_abbrev(label, rng), "dot"
        if roll < 0.65:
            # case/whitespace noise — clean_str must normalize it away
            noisy = label.title() if rng.random() < 0.5 else label.upper()
            if rng.random() < 0.3:
                noisy = noisy.replace(" ", "  ", 1)
            return noisy, "case"
        return label, "exact"

    for ci in range(n_convs):
        conv_id = f"conv-{ci:06d}"
        n_turns = rng.randint(*turns_per_conv)
        for ti in range(n_turns):
            role = _ROLES[ti % 2] if rng.random() < 0.9 else "tool"
            tool = "search" if role == "tool" else None
            ts = base_ts + _dt.timedelta(days=ci, minutes=ti)
            kind_roll = rng.random()
            if kind_roll < 0.55:
                subj, pred, obj = rng.choice(edges)
                # skip templates whose subject label is dominated by a twin
                if dominant.get(kg.label_of[subj], ("", 0))[0] != subj or \
                   dominant.get(kg.label_of[obj], ("", 0))[0] != obj:
                    text = rng.choice(_CHITCHAT)
                else:
                    s_surf, s_var = surface_for(subj, rng)
                    o_surf, o_var = surface_for(obj, rng)
                    text = _TEMPLATES[pred].format(subj=s_surf, obj=o_surf)
                    mention_truth.append((conv_id, ti, s_surf, subj, s_var))
                    mention_truth.append((conv_id, ti, o_surf, obj, o_var))
                    triple_truth.append((conv_id, ti, subj, pred, obj))
            elif kind_roll < 0.62:
                text = f"{rng.choice(_NIL_NAMES)} joined the conversation"
            else:
                text = rng.choice(_CHITCHAT)
            transcripts.append((conv_id, ti, role, text, tool, ts))

    return transcripts, mention_truth, triple_truth


# --------------------------------------------------------------- DataFrames
ITEMS_SCHEMA = T.StructType([
    T.StructField("id_entity", T.IntegerType()),
    T.StructField("entity", T.StringType(), False),
    T.StructField("description", T.StringType()),
    T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
    T.StructField("aliases", T.MapType(T.StringType(), T.ArrayType(T.StringType()))),
    T.StructField("types", T.ArrayType(T.StringType())),
    T.StructField("popularity", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("NERtype", T.StringType()),
])

TRANSCRIPTS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def _arrow_frame(spark: SparkSession, rows: list, schema: T.StructType | str) -> DataFrame:
    """``rows`` as a DataFrame built from a typed pyarrow.Table: dict rows
    are read by field name, tuple rows by position. Spark keeps the table
    in the JVM as a LocalRelation, so no scan of the frame starts a
    Python worker (a list of rows would be a parallelize of pickles)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = [pa.array([r[f.name] if isinstance(r, dict) else r[i] for r in rows], type=t)
            for i, (f, t) in enumerate(zip(schema.fields, arrow.types))]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)


def kg_dataframes(spark: SparkSession, kg: KGFixture) -> dict[str, DataFrame]:
    return {
        "kg_items": _arrow_frame(spark, kg.items, ITEMS_SCHEMA),
        "kg_edges": _arrow_frame(spark, kg.edges, "subj string, pred string, obj string"),
        "kg_literals": _arrow_frame(
            spark, kg.literals, "entity string, datatype string, pred string, value string"),
        "kg_types": _arrow_frame(spark, kg.types, "entity string, type_id string"),
        "kg_sameas": _arrow_frame(spark, kg.sameas, "a string, b string"),
    }


def transcript_dataframes(spark: SparkSession, transcripts, mention_truth, triple_truth):
    return {
        "transcripts": _arrow_frame(spark, transcripts, TRANSCRIPTS_SCHEMA),
        "mentions_truth": _arrow_frame(
            spark, mention_truth,
            "conv_id string, turn_idx int, surface string, entity string, variant string"),
        "triples_truth": _arrow_frame(
            spark, triple_truth, "conv_id string, turn_idx int, subj string, pred string, obj string"),
    }


def smoke_fixture(spark: SparkSession) -> dict[str, DataFrame]:
    """The FIXTURES.md 'smoke' scale point: 8 convs, ~100 turns, ~100 entities."""
    kg = build_kg(seed=42)
    out = kg_dataframes(spark, kg)
    out.update(transcript_dataframes(spark, *build_transcripts(kg, seed=43, n_convs=8)))
    return out
