"""Seeded W3C Data Cube generator with a ledger of planted violations.

``build_cube(seed, ...)`` returns N-Triples lines for a cube in the shape of
the W3C life-expectancy example, grown along every axis the 21 integrity
constraints look at:

- ``dsA``: the main dataset. Dimensions refArea (ConceptScheme code list),
  refPeriod and sex (Collection code list with a nested member chain);
  refPeriod and sex are slice-attached, so observations get them from
  their slice through normalization. One measure, a required
  dataset-attached attribute and a required observation-level attribute.
- ``dsB``: a dimension ``geo`` whose hierarchical code list declares both a
  direct parent-child property and an inverse one (owl:inverseOf), plus
  refArea.
- ``dsM``: a ``qb:measureType`` dataset with two measures, observed in
  pairs (one per measure), so IC-17's groups stay at size two.

``plant`` violations are added per IC, each built so that it trips its
own constraint and no other under the validator's default (reference)
semantics; the returned ledger holds the expected row count of every IC's
violation table. ``plant=0`` gives a cube that passes all 21 ICs.

The seed picks measure values, which observations and slices carry the
planted violations, and how codes are assigned; the number of triples and
the ledger depend only on the size arguments, so different seeds give
inputs of the same size.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from nospa_rdf_data_cube_validator_spark import qb

EG = "http://example.org/bench#"
XSD_DEC = qb.XSD_DECIMAL
RDFS_RANGE = qb.RDFS_RANGE
A = qb.RDF_TYPE


@dataclass
class Cube:
    lines: list[str]
    ledger: dict[str, int]
    n_obs: int

    def text(self) -> str:
        return "\n".join(self.lines) + "\n"


def _term(t: str) -> str:
    return t if t.startswith("_:") else f"<{t}>"


class _Writer:
    def __init__(self):
        self.lines: list[str] = []
        self.n_obs = 0

    def iri(self, s: str, p: str, o: str) -> None:
        self.lines.append(f"{_term(s)} <{p}> {_term(o)} .")

    def lit(self, s: str, p: str, value: str, dt: str = XSD_DEC) -> None:
        self.lines.append(f'{_term(s)} <{p}> "{value}"^^<{dt}> .')

    def obs(self, o: str, ds: str, dims: dict[str, str], values: dict[str, str], extra=()) -> None:
        self.n_obs += 1
        self.iri(o, A, qb.QB_OBSERVATION)
        self.iri(o, qb.QB_DATASET_PROP, ds)
        for d, v in dims.items():
            self.iri(o, d, v)
        for m, v in values.items():
            self.lit(o, m, v)
        for p, v in extra:
            self.iri(o, p, v)


def _value(rng: random.Random) -> str:
    return f"{rng.uniform(60.0, 89.9):.1f}"


def build_cube(seed: int, areas: int = 8, periods: int = 4, regions: int = 3, leaves: int = 3,
               geo_obs: int = 24, plant: int = 2) -> Cube:
    if areas < 3 * plant + 1:
        raise ValueError("dsM needs a distinct area code per planted IC-15/16/17 group plus one clean pair")
    if geo_obs > regions * leaves * areas:
        raise ValueError("geo_obs exceeds the distinct (geo, refArea) keys")
    rng = random.Random(seed)
    w = _Writer()
    K = plant

    ref_area, ref_period, sex = EG + "refArea", EG + "refPeriod", EG + "sex"
    geo, life, mort = EG + "geo", EG + "lifeExp", EG + "mortality"
    unit, status = EG + "unitMeasure", EG + "obsStatus"
    area_codes = [EG + f"area-{i:03d}" for i in range(areas)]
    period_vals = [EG + f"period-{2000 + i}" for i in range(periods)]
    sex_codes = [EG + "sex-M", EG + "sex-F"]

    # -- component properties ------------------------------------------------
    for d, rng_cls in ((ref_area, qb.SKOS_CONCEPT), (ref_period, EG + "Interval"),
                       (sex, qb.SKOS_CONCEPT), (geo, EG + "GeoUnit")):
        w.iri(d, A, qb.QB_DIMENSION_PROPERTY)
        w.iri(d, RDFS_RANGE, rng_cls)
    w.iri(qb.QB_MEASURE_TYPE, RDFS_RANGE, qb.QB_MEASURE_PROPERTY)  # from the qb vocabulary
    for m in (life, mort):
        w.iri(m, A, qb.QB_MEASURE_PROPERTY)
        w.iri(m, RDFS_RANGE, XSD_DEC)
    for at in (unit, status):
        w.iri(at, A, qb.QB_ATTRIBUTE_PROPERTY)

    # -- code lists ----------------------------------------------------------
    w.iri(ref_area, qb.QB_CODE_LIST, EG + "areaScheme")
    w.iri(EG + "areaScheme", A, qb.SKOS_CONCEPT_SCHEME)
    for c in area_codes:
        w.iri(c, A, qb.SKOS_CONCEPT)
        w.iri(c, qb.SKOS_IN_SCHEME, EG + "areaScheme")
    w.iri(sex, qb.QB_CODE_LIST, EG + "sexCollection")
    w.iri(EG + "sexCollection", A, qb.SKOS_COLLECTION)
    w.iri(EG + "sexCollection", qb.SKOS_MEMBER, EG + "sexGroup")
    for c in sex_codes:
        w.iri(EG + "sexGroup", qb.SKOS_MEMBER, c)
        w.iri(c, A, qb.SKOS_CONCEPT)
    hier, root = EG + "geoHier", EG + "geo-root"
    has_part, part_of = EG + "hasPart", EG + "partOf"
    w.iri(geo, qb.QB_CODE_LIST, hier)
    w.iri(hier, A, qb.QB_HIERARCHICAL_CODE_LIST)
    w.iri(hier, qb.QB_HIERARCHY_ROOT, root)
    w.iri(hier, qb.QB_PARENT_CHILD_PROPERTY, has_part)
    w.iri(hier, qb.QB_PARENT_CHILD_PROPERTY, "_:invPart")
    w.iri("_:invPart", qb.OWL_INVERSE_OF, part_of)
    geo_leaves = []
    for r in range(regions):
        reg = EG + f"geo-r{r}"
        w.iri(root, has_part, reg)
        w.iri(reg, part_of, root)
        for j in range(leaves):
            leaf = EG + f"geo-r{r}-l{j}"
            w.iri(reg, has_part, leaf)
            w.iri(leaf, part_of, reg)
            geo_leaves.append(leaf)

    # -- dsA: slices + slice-attached dimensions -------------------------------
    ds_a, dsd_a, key_a = EG + "dsA", EG + "dsdA", EG + "keyA"
    w.iri(ds_a, A, qb.QB_DATASET)
    w.iri(ds_a, qb.QB_STRUCTURE, dsd_a)
    w.iri(ds_a, unit, EG + "unit-year")
    w.iri(dsd_a, A, qb.QB_DSD)
    w.iri(dsd_a, qb.QB_SLICE_KEY_PROP, key_a)
    specs = [
        ("_:a1", qb.QB_DIMENSION, ref_area, None, False),
        ("_:a2", qb.QB_DIMENSION, ref_period, qb.QB_SLICE, False),
        ("_:a3", qb.QB_DIMENSION, sex, qb.QB_SLICE, False),
        ("_:a4", qb.QB_MEASURE, life, None, False),
        ("_:a5", qb.QB_ATTRIBUTE, unit, qb.QB_DATASET, True),
        ("_:a6", qb.QB_ATTRIBUTE, status, None, True),
    ]
    for spec, kind, prop, attach, required in specs:
        w.iri(dsd_a, qb.QB_COMPONENT, spec)
        w.iri(spec, kind, prop)
        if attach:
            w.iri(spec, qb.QB_COMPONENT_ATTACHMENT, attach)
        if required:
            w.lit(spec, qb.QB_COMPONENT_REQUIRED, "true", qb.XSD_BOOLEAN)
    w.iri(key_a, A, qb.QB_SLICE_KEY)
    w.iri(key_a, qb.QB_COMPONENT_PROPERTY, ref_period)
    w.iri(key_a, qb.QB_COMPONENT_PROPERTY, sex)
    slices = []
    for p in period_vals:
        for s in sex_codes:
            sl = EG + f"slice-{p.rsplit('-', 1)[1]}-{s.rsplit('-', 1)[1]}"
            slices.append(sl)
            w.iri(ds_a, qb.QB_SLICE_PROP, sl)
            w.iri(sl, A, qb.QB_SLICE)
            w.iri(sl, qb.QB_SLICE_STRUCTURE, key_a)
            w.iri(sl, ref_period, p)
            w.iri(sl, sex, s)

    base = [(si, a) for si in range(len(slices)) for a in range(areas)]
    picks = rng.sample(range(len(base)), 3 * K)
    dup_of, no_status, no_measure = picks[:K], set(picks[K:2 * K]), set(picks[2 * K:])
    for n, (si, a) in enumerate(base):
        o = EG + f"oA-{si:02d}-{a:03d}"
        values = {} if n in no_measure else {life: _value(rng)}                    # IC-14
        extra = () if n in no_status else ((status, EG + "status-normal"),)       # IC-13
        w.obs(o, ds_a, {ref_area: area_codes[a]}, values, extra)
        w.iri(slices[si], qb.QB_OBSERVATION_PROP, o)

    def obs_in_slice(o: str, si: int, dims: dict[str, str]) -> None:
        w.obs(o, ds_a, dims, {life: _value(rng)}, ((status, EG + "status-normal"),))
        w.iri(slices[si], qb.QB_OBSERVATION_PROP, o)

    for i, n in enumerate(dup_of):  # IC-12: same slice, same area as a base obs
        si, a = base[n]
        obs_in_slice(EG + f"oDup-{i:02d}", si, {ref_area: area_codes[a]})
    for i, si in enumerate(rng.sample(range(len(slices)), K)):  # IC-11: no refArea
        obs_in_slice(EG + f"oNoArea-{i:02d}", si, {})
    for i in range(K):  # IC-19: a Concept outside the area scheme
        bad = EG + f"area-bad-{i:02d}"
        w.iri(bad, A, qb.SKOS_CONCEPT)
        obs_in_slice(EG + f"oBadArea-{i:02d}", rng.randrange(len(slices)), {ref_area: bad})

    # -- dsB: hierarchical code list ------------------------------------------
    ds_b, dsd_b = EG + "dsB", EG + "dsdB"
    w.iri(ds_b, A, qb.QB_DATASET)
    w.iri(ds_b, qb.QB_STRUCTURE, dsd_b)
    w.iri(dsd_b, A, qb.QB_DSD)
    for spec, kind, prop in (("_:b1", qb.QB_DIMENSION, geo), ("_:b2", qb.QB_DIMENSION, ref_area),
                             ("_:b3", qb.QB_MEASURE, life)):
        w.iri(dsd_b, qb.QB_COMPONENT, spec)
        w.iri(spec, kind, prop)
    keys = rng.sample([(g, a) for g in geo_leaves for a in area_codes], geo_obs + K)
    for i, (g, a) in enumerate(keys[:geo_obs]):
        w.obs(EG + f"oB-{i:03d}", ds_b, {geo: g, ref_area: a}, {life: _value(rng)})
    for i, (g, a) in enumerate(keys[geo_obs:]):  # IC-18: listed by a dsA slice
        o = EG + f"oB18-{i:02d}"
        w.obs(o, ds_b, {geo: g, ref_area: a}, {life: _value(rng)})
        w.iri(slices[rng.randrange(len(slices))], qb.QB_OBSERVATION_PROP, o)
    for i in range(K):
        reg = EG + f"geo-r{rng.randrange(regions)}"
        inv_only = EG + f"geo-inv-only-{i:02d}"  # IC-20: reachable only through partOf
        w.iri(inv_only, part_of, reg)
        w.obs(EG + f"oB20-{i:02d}", ds_b, {geo: inv_only, ref_area: area_codes[0]}, {life: _value(rng)})
        dir_only = EG + f"geo-dir-only-{i:02d}"  # IC-21: reachable only through hasPart
        w.iri(reg, has_part, dir_only)
        w.obs(EG + f"oB21-{i:02d}", ds_b, {geo: dir_only, ref_area: area_codes[0]}, {life: _value(rng)})

    # -- dsM: measureType cube, observed in pairs ------------------------------
    ds_m, dsd_m = EG + "dsM", EG + "dsdM"
    w.iri(ds_m, A, qb.QB_DATASET)
    w.iri(ds_m, qb.QB_STRUCTURE, dsd_m)
    w.iri(dsd_m, A, qb.QB_DSD)
    for spec, kind, prop in (("_:m1", qb.QB_DIMENSION, ref_area), ("_:m2", qb.QB_DIMENSION, qb.QB_MEASURE_TYPE),
                             ("_:m3", qb.QB_MEASURE, life), ("_:m4", qb.QB_MEASURE, mort)):
        w.iri(dsd_m, qb.QB_COMPONENT, spec)
        w.iri(spec, kind, prop)
    m_areas = rng.sample(area_codes, areas)
    clean, planted = m_areas[3 * K:], m_areas[:3 * K]

    def m_obs(o: str, area: str, mtypes: list[str]) -> None:
        # Both measure values on every obs: the reference's IC-14 checks
        # measureType cubes against the full component set.
        w.obs(o, ds_m, {ref_area: area}, {life: _value(rng), mort: _value(rng)},
              [(qb.QB_MEASURE_TYPE, mt) for mt in mtypes])

    for i, area in enumerate(clean):
        m_obs(EG + f"oM-{i:02d}-L", area, [life])
        m_obs(EG + f"oM-{i:02d}-M", area, [mort])
    for i in range(K):
        m_obs(EG + f"oM15-{i:02d}-L", planted[i], [life])
        m_obs(EG + f"oM15-{i:02d}-X", planted[i], [EG + f"undeclared-{i:02d}"])  # IC-15
        # IC-16: two measureType values. IC-12 keys an obs by the minimum
        # value per dimension (lifeExp here), so its partner is the
        # mortality obs, not a second lifeExp one.
        m_obs(EG + f"oM16-{i:02d}-M", planted[K + i], [mort])
        m_obs(EG + f"oM16-{i:02d}-B", planted[K + i], [life, mort])
        m_obs(EG + f"oM17-{i:02d}", planted[2 * K + i], [life])  # IC-17: lone obs

    # -- schema-level plants ---------------------------------------------------
    for i in range(K):
        w.iri(EG + f"orphanObs-{i:02d}", A, qb.QB_OBSERVATION)  # IC-1
        w.iri(EG + f"dsNoStruct-{i:02d}", A, qb.QB_DATASET)  # IC-2
        dsd = EG + f"dsdNoMeasure-{i:02d}"  # IC-3
        w.iri(dsd, A, qb.QB_DSD)
        w.iri(dsd, qb.QB_COMPONENT, f"_:nm{i}")
        w.iri(f"_:nm{i}", qb.QB_DIMENSION, ref_area)
        w.iri(EG + f"noRangeDim-{i:02d}", A, qb.QB_DIMENSION_PROPERTY)  # IC-4
        cdim = EG + f"conceptDim-{i:02d}"  # IC-5
        w.iri(cdim, A, qb.QB_DIMENSION_PROPERTY)
        w.iri(cdim, RDFS_RANGE, qb.SKOS_CONCEPT)
        w.iri(EG + f"orphanKey-{i:02d}", A, qb.QB_SLICE_KEY)  # IC-7
        w.iri(EG + f"sliceNoStruct-{i:02d}", A, qb.QB_SLICE)  # IC-9
        sl = EG + f"sliceNoSex-{i:02d}"  # IC-10
        w.iri(sl, A, qb.QB_SLICE)
        w.iri(sl, qb.QB_SLICE_STRUCTURE, key_a)
        w.iri(sl, ref_period, period_vals[rng.randrange(periods)])
    if K:
        dsd_o = EG + "dsdOptional"  # IC-6: optional dimensions
        w.iri(dsd_o, A, qb.QB_DSD)
        w.iri(dsd_o, qb.QB_COMPONENT, "_:om")
        w.iri("_:om", qb.QB_MEASURE, life)
        dsd_s, key_s = EG + "dsdWideKey", EG + "keyWide"  # IC-8: key names props outside its DSD
        w.iri(dsd_s, A, qb.QB_DSD)
        w.iri(dsd_s, qb.QB_SLICE_KEY_PROP, key_s)
        w.iri(dsd_s, qb.QB_COMPONENT, "_:sd")
        w.iri("_:sd", qb.QB_DIMENSION, ref_area)
        w.iri(dsd_s, qb.QB_COMPONENT, "_:sm")
        w.iri("_:sm", qb.QB_MEASURE, life)
        w.iri(key_s, A, qb.QB_SLICE_KEY)
        for i in range(K):
            odim = EG + f"optDim-{i:02d}"
            w.iri(odim, A, qb.QB_DIMENSION_PROPERTY)
            w.iri(odim, RDFS_RANGE, EG + "Thing")
            w.iri(dsd_o, qb.QB_COMPONENT, f"_:op{i}")
            w.iri(f"_:op{i}", qb.QB_DIMENSION, odim)
            w.lit(f"_:op{i}", qb.QB_COMPONENT_REQUIRED, "false", qb.XSD_BOOLEAN)
            w.iri(key_s, qb.QB_COMPONENT_PROPERTY, EG + f"notInDsd-{i:02d}")

    ledger = {f"ic{i}": K for i in range(1, 22)}
    return Cube(lines=w.lines, ledger=ledger, n_obs=w.n_obs)
