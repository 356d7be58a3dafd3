"""Seeded benchmark inputs. The same seed gives the same rows; the package
under test receives only these generated rows.

- the KG is the package's synthetic fixture at scale 1 (910 items),
  built from a fixed seed: it stands for the deployment's dictionary;
- a lookup batch holds the distinct normalized mention surfaces that
  the fixture's transcript generator produces for that seed, plus its
  NIL names;
- transcripts come from the fixture's template generator, so the true
  triples are known by construction.
"""

from __future__ import annotations

KG_SCALE = 1
# the dictionary snapshot is fixed, like a deployment's KG; the seed
# varies what is asked of it (mention batches, transcripts)
KG_SEED = 42


def build_kg_fixture():
    from lamapi_spark.pipeline.fixtures import build_kg

    k = KG_SCALE
    return build_kg(seed=KG_SEED, n_people=400 * k, n_orgs=120 * k,
                    n_locs=60 * k, n_films=250 * k)


def norm(s: str) -> str:
    """The package's clean_str in Python: lowercase, single spaces, trimmed."""
    return " ".join(s.lower().split())


def mention_batch(kg, seed: int, size: int) -> list[tuple]:
    """``size`` mentions with distinct normalized forms, drawn from the
    fixture's own surface model: the fixture's NIL names, then the mention
    surfaces of ``build_transcripts`` (exact labels, case and whitespace
    noise, aliases, dot abbreviations, 1-edit typos) in the order the
    transcripts produce them, first occurrence of each normalized form.
    Returns (mention, variant, truth_entity) rows."""
    from lamapi_spark.pipeline.fixtures import _NIL_NAMES, build_transcripts

    pool = {norm(m): (m, "nil", None) for m in _NIL_NAMES}
    n_convs = size // 4
    while len(pool) < size:
        # a longer run of the same seed extends the shorter one, so
        # growing the conversation count only appends surfaces
        n_convs *= 2
        _, mention_truth, _ = transcripts(kg, seed, n_convs)
        for _, _, surface, qid, variant in mention_truth:
            pool.setdefault(norm(surface), (surface, variant, qid))
            if len(pool) == size:
                break
        if n_convs > 64 * size:
            raise ValueError(f"the fixture yields only {len(pool)} distinct "
                             f"mentions < {size}")
    return list(pool.values())


def transcripts(kg, seed: int, n_convs: int):
    """(transcript_rows, mention_truth_rows, triple_truth_rows)."""
    from lamapi_spark.pipeline.fixtures import build_transcripts

    return build_transcripts(kg, seed=seed, n_convs=n_convs,
                             turns_per_conv=(8, 16))
