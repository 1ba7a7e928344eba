"""Seeded benchmark inputs: generation, caching and pinning.

A ``--seed`` selects one of ``VARIANTS`` input variants (``seed %
VARIANTS``); variant ``v`` is generated by the in-repo generators with
generator seed ``1000 + v``. Generated files and the expected values
computed from them (DuckDB twins and registry oracles) are cached per
variant under the work directory, keyed by a digest of the generator
and oracle sources, so generation and oracle time stay out of every
run after the first.

Every run recomputes the SHA-256 of the input files and compares files
and expected values against ``pins.json``. A mismatch means an edit to
a generator, a census twin or an oracle silently changed the workload;
the run stops with :class:`PinError` instead of measuring it.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

VARIANTS = 10
PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


class PinError(RuntimeError):
    """Inputs or expected values differ from the pinned ones."""


@dataclass(frozen=True)
class InputSpec:
    """One generated input set: ``kind`` is ``arxiv`` (``size`` papers,
    tools/gen_arxiv.py) or ``sf`` (``size`` scale factor,
    tools/gen_sf.py). ``sources`` are the repo files whose edits must
    invalidate the cache; ``expect`` computes the expected values for a
    generated directory."""

    kind: str
    size: float
    sources: tuple[str, ...]
    expect: Callable[[str], dict]
    salt: str = ""

    @property
    def key(self) -> str:
        return f"{self.kind}-{self.size:g}"


def gen_seed(variant: int) -> int:
    return 1000 + variant


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def file_digests(d: str) -> dict[str, str]:
    return {
        name: _sha256(os.path.join(d, name))
        for name in sorted(os.listdir(d))
        if name.endswith(".parquet")
    }


def input_bytes(d: str, tables: tuple[str, ...]) -> int:
    return sum(os.path.getsize(os.path.join(d, f"{t}.parquet")) for t in tables)


def _source_digest(root: str, spec: InputSpec) -> str:
    h = hashlib.sha256(spec.salt.encode())
    for rel in spec.sources:
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _generate(spec: InputSpec, out: str, variant: int) -> None:
    with contextlib.redirect_stdout(io.StringIO()):
        if spec.kind == "arxiv":
            from tools.gen_arxiv import generate_arxiv

            generate_arxiv(int(spec.size), out, seed=gen_seed(variant))
        else:
            from tools.gen_sf import generate

            generate(spec.size, out, seed=gen_seed(variant))


def materialize(root: str, work: str, spec: InputSpec, variant: int) -> tuple[str, dict]:
    """Return (input directory, {"files": digests, "expected": values})
    for one variant, generating it on a cache miss."""
    base = os.path.join(
        work, "inputs", f"{spec.key}-{_source_digest(root, spec)}", f"v{variant}"
    )
    marker = os.path.join(base, "expected.json")
    if not os.path.exists(marker):
        tmp = base + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _generate(spec, tmp, variant)
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(spec.expect(tmp), f, sort_keys=True)
        shutil.rmtree(base, ignore_errors=True)
        os.replace(tmp, base)
    with open(marker) as f:
        expected = json.load(f)
    return base, {"files": file_digests(base), "expected": expected}


def load_pins() -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)


def pinned(root: str, work: str, spec: InputSpec, seed: int) -> tuple[str, dict]:
    """The checked input directory and expected values for ``seed``."""
    variant = seed % VARIANTS
    d, got = materialize(root, work, spec, variant)
    name = f"{spec.key}/v{variant}"
    pin = load_pins().get(name)
    if pin is None:
        raise PinError(f"no pin for {name}; regenerate with run.py --pin")
    for part in ("files", "expected"):
        if pin[part] != got[part]:
            diff = sorted(
                k for k in set(pin[part]) | set(got[part])
                if pin[part].get(k) != got[part].get(k)
            )
            raise PinError(f"{name}: {part} differ from pins.json at {diff}")
    return d, got["expected"]


def write_pins(root: str, work: str, specs: list[InputSpec]) -> None:
    pins = {}
    for spec in specs:
        for variant in range(VARIANTS):
            _d, got = materialize(root, work, spec, variant)
            pins[f"{spec.key}/v{variant}"] = got
            print(f"pinned {spec.key}/v{variant}", flush=True)
    with open(PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
