"""Gate definition modules. Importing this package imports them IN
REGISTRATION ORDER: each module's @query side effects append to the
shared registry dicts (pdf_brain_spark/registry.py), and the order of the
imports below IS the registration order the GATE_WINDOW reorder in
pdf_brain_spark/queries.py and the COVERAGE.md rotation narrative are
written against. Because the package runs first whichever gates module
a process imports, the order holds for every import path.
"""

from pdf_brain_spark.gates import core  # noqa: F401
from pdf_brain_spark.gates import quality_temporal  # noqa: F401
from pdf_brain_spark.gates import composites  # noqa: F401
from pdf_brain_spark.gates import r8_corpus_a  # noqa: F401
from pdf_brain_spark.gates import r8_corpus_b  # noqa: F401
from pdf_brain_spark.gates import r9_r10  # noqa: F401
from pdf_brain_spark.gates import r11  # noqa: F401
