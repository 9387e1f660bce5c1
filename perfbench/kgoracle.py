"""Expected size of the KG the pipeline builds from ``synth_transcripts``.

A plain-Python model of the generator (the same integer arithmetic over
conversation and turn numbers), of template matching, of linking (the
lowest entity IRI among a surface's candidates wins) and of alias
canonicalization. The pipeline emits each distinct (subject, relation,
object) edge once, six cube triples per (conversation, turn, relation)
observation and a fixed 15-triple cube schema.
"""

from __future__ import annotations

import re

from nospa_rdf_data_cube_validator_spark.functions import entities as E

SCHEMA_TRIPLES = 15
TRIPLES_PER_OBS = 6


def expected_kg(n_convs: int, base_turns: int, hot_convs: int, hot_turns: int) -> dict[str, int]:
    patterns = [
        (re.compile("^" + "(.+?)".join(re.escape(p) for p in tmpl.split("{}")) + "$"), rel)
        for tmpl, rel in E.TEMPLATES
    ]
    link: dict[str, str] = {}
    for surface, _ei, _si, iri in E.surface_rows():
        link[surface] = min(link.get(surface, iri), iri)
    canon = E.canonical_map()
    n_ent, n_tmpl = len(E.ENTITIES), len(E.TEMPLATES)

    turns = 0
    edges: set[tuple[str, str, str]] = set()
    obs: set[tuple[int, int, str]] = set()
    for c in range(n_convs):
        n_turns = base_turns + (c % 7) * 3 + (hot_turns if c < hot_convs else 0)
        for t in range(n_turns):
            turns += 1
            k = c * 1000003 + t
            e1, e2 = k % n_ent, (k * 7 + 3) % n_ent
            s1, s2 = (k // 7) % 2, (k // 11) % 2
            text = E.TEMPLATES[k % n_tmpl][0].format(E.ENTITIES[e1][1][s1], E.ENTITIES[e2][1][s2])
            for pat, rel in patterns:
                m = pat.match(text)
                if not m or m.group(1) not in link or m.group(2) not in link:
                    continue
                subj, obj = link[m.group(1)], link[m.group(2)]
                edges.add((canon.get(subj, subj), rel, canon.get(obj, obj)))
                obs.add((c, t, rel))
    return {
        "turns": turns,
        "triples": len(edges) + TRIPLES_PER_OBS * len(obs) + SCHEMA_TRIPLES,
    }
