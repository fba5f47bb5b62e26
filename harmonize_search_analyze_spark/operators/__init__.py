"""The engine's operators, one module per family (``aggregations``,
``dedup``, ``similarity``, ``graph``, ...). Import the module you call:
this package imports none of them, so a Python worker that unpickles a
function from one module (``similarity._matrix`` in every vector stage)
loads that module alone."""
