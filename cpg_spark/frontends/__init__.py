"""Language frontends: per-document parsers that emit node/edge/mention rows.

Each frontend is a plain-Python callable
``parse_document(doc_id, span_offset, source, module_name) -> DocGraph``
executed inside vectorized Arrow batches (``mapInArrow``) — the Spark
equivalent of the reference's per-file LanguageFrontend instances
(``cpg-core/.../TranslationManager.kt:247-299`` runs one frontend + one
private ScopeManager per file in a thread; our unit of parallelism is the
partition).

Shared code lives in ``base.py``, as the reference shares one
``LanguageFrontend`` base and one ``ScopeManager``:

* ``Emitter``: ids, rows, the scope stack and the end-of-document local
  resolution ``_resolve_locally``; a frontend overrides small hooks such
  as ``_member_base_type`` instead of copying it;
* ``TokenFrontend``: the token cursor and the panic-mode
  ``_guard_top``/``_sync_toplevel`` recovery of the hand-written
  C/C++/Java, Go, TS/JS and PowerShell parsers;
* ``module_for_doc`` and ``parse_span``, the entry wrapper that turns a
  failed span into a ProblemDeclaration.

Registration mirrors ``TranslationConfiguration.registerLanguage``
(``cpg-core/.../TranslationConfiguration.java:413-418``): a dict from span
``kind`` to parser callable, consulted by the parse operator.
"""

from __future__ import annotations

from .cfamily_frontend import parse_cpp_document, parse_java_document
from .go_frontend import parse_go_document
from .llvm_frontend import parse_llvm_document
from .ps_frontend import parse_ps_document
from .python_frontend import parse_python_document
from .ts_frontend import parse_ts_document

# span kind -> parser; extended as more frontends land (SURVEY.md §2.2)
FRONTENDS = {
    "code/python": parse_python_document,
    "code/go": parse_go_document,
    "code/java": parse_java_document,
    "code/cpp": parse_cpp_document,
    "code/llvm": parse_llvm_document,
    "code/typescript": parse_ts_document,
    "code/javascript": parse_ts_document,
    "code/powershell": parse_ps_document,
}
