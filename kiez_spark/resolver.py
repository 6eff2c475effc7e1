"""String -> strategy resolution (S5 in SURVEY.md §2.1).

The reference resolves algorithm/reduction names through class_resolver
(kiez/kiez.py:114-129, neighbors/util.py:18-39), defaulting to Faiss when
installed and SklearnNN otherwise. Here the 'backends' are execution
tiers, so reference backend names map onto the tier with the matching
role: exact backends -> the pandas tier (the engine's one exact
all-pairs kNN; the retired name ``expr`` resolves there too),
graph/tree ANN backends -> the LSH tier.
"""

from __future__ import annotations

from kiez_spark.pipeline import HubnessKnn, PipelineConfig

HUBNESS_ALIASES = {
    None: "none",
    "none": "none",
    "nohubnessreduction": "none",
    "csls": "csls",
    "localscaling": "ls",
    "ls": "ls",
    "standard": "ls",
    "nicdm": "nicdm",
    "mutualproximity": "mp_normal",
    "mp": "mp_normal",
    "mp_normal": "mp_normal",
    "gaussi": "mp_normal",
    "normal": "mp_normal",
    "mp_empiric": "mp_empiric",
    "empiric": "mp_empiric",
    "exact_mp": "mp_empiric",
    "dissimlocal": "dsl",
    "dsl": "dsl",
}

# reference backend name -> engine tier
ALGORITHM_ALIASES = {
    "auto": "pandas",        # reference default = Faiss-if-installed
    "faiss": "pandas",       # Flat == exact; our fast exact tier
    "sklearnnearestneighbors": "pandas",
    "sklearnnn": "pandas",
    "exact": "pandas",
    "brute": "pandas",
    "expr": "pandas",
    "pandas": "pandas",
    "blocked": "blocked",
    "nmslib": "lsh",         # HNSW-class ANN -> LSH approximate tier
    "hnsw": "lsh",
    "nng": "lsh",
    "ngt": "lsh",
    "annoy": "lsh",
    "randomprojectiontrees": "lsh",
    "lsh": "lsh",
}


def _norm(name: str | None) -> str | None:
    return name.lower().replace("-", "").replace("_", "") if isinstance(name, str) else name


def resolve_hubness(name: str | None) -> str:
    key = _norm(name)
    key = key if key in HUBNESS_ALIASES else name
    if key not in HUBNESS_ALIASES:
        # second chance: underscored canonical names
        if name in HUBNESS_ALIASES:
            key = name
        else:
            raise ValueError(f"unknown hubness reduction: {name!r}")
    return HUBNESS_ALIASES[key]


def resolve_algorithm(name: str | None) -> str:
    key = _norm(name) or "auto"
    if key not in ALGORITHM_ALIASES:
        raise ValueError(f"unknown nn algorithm: {name!r}")
    return ALGORITHM_ALIASES[key]


def make_engine(
    algorithm: str | None = "auto",
    hubness: str | None = None,
    n_candidates: int = 10,
    k: int = 5,
    **kwargs,
) -> HubnessKnn:
    """The Kiez(...) constructor analogue (kiez.py:98-129)."""
    cfg = PipelineConfig(
        n_candidates=n_candidates,
        k=k,
        tier=resolve_algorithm(algorithm),
        hubness=resolve_hubness(hubness),
        **kwargs,
    )
    return HubnessKnn(cfg)
