"""Set operator-module constants for the length of a block.

The curation operators read their shapes (MinHash bands, Bloom bits,
probe widths, shortlists, ...) from module constants when they build
a frame, so a measurement sweep varies a shape by setting the
constant around the build::

    from tools.constants import patched

    with patched(D, MINHASH_HASHES=64, MINHASH_BANDS=32):
        pairs = D.minhash_jaccard_pairs(docs)
    pairs.count()  # the plan keeps the shape it was built with
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from types import ModuleType


@contextmanager
def patched(module: ModuleType, **values) -> Iterator[None]:
    """Set ``module.NAME = value`` for each keyword inside the block and
    restore the old values on exit. A name the module does not define
    raises AttributeError, so a misspelt constant cannot be set
    silently."""
    old = {name: getattr(module, name) for name in values}
    try:
        for name, value in values.items():
            setattr(module, name, value)
        yield
    finally:
        for name, value in old.items():
            setattr(module, name, value)
