"""ParquetTable — the retired table class's name, now a ManifestTable."""

from __future__ import annotations

from pipelinewise_spark.operators.manifest_table import ManifestTable


class ParquetTable(ManifestTable):
    """A ManifestTable under the name of the table class it replaced.

    Every engine target is a ManifestTable; nothing in the package builds
    this class. It stays for code outside the package that still spells
    the old name: perfbench imports and builds ``ParquetTable`` to read
    ``full_load``'s targets back. It is a subclass rather than a plain
    ``ParquetTable = ManifestTable`` alias because perfbench's tracer
    (``perfbench/tracing.py``) wraps the write verbs found in each listed
    class's own ``__dict__``: an alias would list ManifestTable twice and
    wrap every verb twice under ``--trace 1``, while an empty subclass
    has no verbs of its own to wrap."""
