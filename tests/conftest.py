import pytest


@pytest.fixture(scope="session")
def spark():
    from json_schema_spark.session import get_spark

    s = get_spark(app="json_schema_spark_tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ref(tmp_path_factory):
    """ONE compiled-reference probe shared by every reference
    differential module (the build costs ~15 s; five module-scoped
    copies were ~75 s of pure javac)."""
    from tests.test_reference_differential import build_reference_probe

    return build_reference_probe(tmp_path_factory.mktemp("refbuild"))


def pytest_terminal_summary(terminalreporter):
    """Name every test module that skipped tests, and why, so a run that
    lost a gate family (e.g. the compiled-reference differentials when
    the reference sources are absent) does not read as plain green."""
    families: dict[tuple[str, str], int] = {}
    for rep in terminalreporter.stats.get("skipped", []):
        module = rep.nodeid.split("::")[0]
        reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else str(rep.longrepr)
        key = (module, reason.removeprefix("Skipped: "))
        families[key] = families.get(key, 0) + 1
    if families:
        terminalreporter.section("skipped gate families")
        for (module, reason), n in sorted(families.items()):
            terminalreporter.write_line(f"{module}: {n} skipped ({reason})")
