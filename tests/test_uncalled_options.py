"""Every option of a sparkfp function is set by some call in the repo
(library, gate queries, benchmarks, tools or tests), or is one of the
exemptions ``tools/uncalled.py`` names with a reason. Spark-free."""

import tools.uncalled as uncalled


def test_every_option_is_set_or_exempt():
    unset, total = uncalled.unset_options(uncalled._trees())
    assert total > 0
    assert unset == sorted(uncalled.EXEMPT)
