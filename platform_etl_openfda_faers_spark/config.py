"""Pipeline configuration (reference: ``config/Configuration.scala:8-40`` +
``src/main/resources/reference.conf``).

The reference validates config with pureconfig ``require`` guards at startup;
we mirror that with ``__post_init__`` checks so a bad config fails before any
Spark job is submitted.
"""

from __future__ import annotations

from dataclasses import dataclass, field

VALID_OUTPUT_FORMATS = ("parquet", "json", "csv")


@dataclass(frozen=True)
class MonteCarloConfig:
    # reference.conf:11-14 — permutations=100, percentile=0.95
    permutations: int = 100
    percentile: float = 0.95
    # reference quirk #2: unseeded randomness -> non-reproducible results.
    # Ours is always seeded; per-drug streams are derived from this root seed.
    seed: int = 42

    def __post_init__(self) -> None:
        if self.permutations <= 0:
            raise ValueError("permutations must be > 0")
        if not 0.0 < self.percentile < 1.0:
            raise ValueError("percentile must be in (0, 1)")


@dataclass(frozen=True)
class SamplingConfig:
    # reference.conf:15-19 — fraction=0.1, disabled by default
    enabled: bool = False
    fraction: float = 0.1
    seed: int = 42

    def __post_init__(self) -> None:
        if not 0.0 < self.fraction <= 1.0:
            raise ValueError("sampling fraction must be in (0, 1]")


@dataclass(frozen=True)
class FdaConfig:
    fda_data: str = ""
    chembl_drugs: str = ""
    blacklist: str = ""
    meddra_path: str | None = None  # optional, like the reference stub branch
    outputs: tuple[str, ...] = ("parquet",)
    output_path: str = ""
    montecarlo: MonteCarloConfig = field(default_factory=MonteCarloConfig)
    sampling: SamplingConfig = field(default_factory=SamplingConfig)

    def __post_init__(self) -> None:
        bad = [f for f in self.outputs if f not in VALID_OUTPUT_FORMATS]
        if bad:
            raise ValueError(f"invalid output formats: {bad}")


@dataclass(frozen=True)
class EngineConfig:
    spark_uri: str | None = None  # None -> inherit master (cluster-friendly)
    fda: FdaConfig = field(default_factory=FdaConfig)


def load_config(path: str) -> EngineConfig:
    """Config-file loading — the HOCON-driven deployment path of the
    reference (``config/Configuration.scala:47-54`` + ``reference.conf``),
    re-expressed as a JSON subset of HOCON: ``//`` and ``#`` comments and
    ``${ENV_VAR}`` substitutions are supported (an unset variable raises
    ``ValueError``); keys mirror the dataclass fields.  Validation still
    runs through ``__post_init__`` before any Spark job is submitted.

    Example file::

        {
          // paths may reference the environment
          "spark_uri": null,
          "fda": {
            "fda_data": "${DATA_ROOT}/fda/**/*.jsonl",
            "chembl_drugs": "${DATA_ROOT}/chembl.json",
            "blacklist": "${DATA_ROOT}/blacklist.txt",
            "output_path": "out",
            "outputs": ["parquet", "json"],
            "montecarlo": {"permutations": 100, "percentile": 0.95, "seed": 42},
            "sampling": {"enabled": true, "fraction": 0.1}
          }
        }
    """
    import json
    import os
    import re

    with open(path, encoding="utf-8") as f:
        raw = [
            line for line in f
            if not line.strip().startswith(("//", "#"))
        ]

    def substitute(m: re.Match) -> str:
        # as in HOCON, an unresolved substitution is an error, not text
        if m.group(1) not in os.environ:
            raise ValueError(f"{path}: environment variable {m.group(1)} is not set")
        return os.environ[m.group(1)]

    text = re.sub(r"\$\{(\w+)\}", substitute, "".join(raw))
    data = json.loads(text)

    def build(cls, d: dict):
        known = {f.name for f in cls.__dataclass_fields__.values()}  # type: ignore[attr-defined]
        unknown = set(d) - known
        if unknown:
            raise ValueError(f"unknown {cls.__name__} keys: {sorted(unknown)}")
        return d

    fda_d = dict(data.get("fda", {}))
    build(FdaConfig, fda_d)
    mc = MonteCarloConfig(**build(MonteCarloConfig, dict(fda_d.pop("montecarlo", {}))))
    sp = SamplingConfig(**build(SamplingConfig, dict(fda_d.pop("sampling", {}))))
    if "outputs" in fda_d:
        fda_d["outputs"] = tuple(fda_d["outputs"])
    fda = FdaConfig(**fda_d, montecarlo=mc, sampling=sp)
    top = {k: v for k, v in data.items() if k != "fda"}
    build(EngineConfig, top)
    return EngineConfig(**top, fda=fda)
