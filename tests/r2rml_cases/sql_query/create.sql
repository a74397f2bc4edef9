CREATE TABLE "Course" (
  "CID" INTEGER PRIMARY KEY,
  "Title" VARCHAR(50)
);
INSERT INTO "Course" VALUES (10, 'Databases');
INSERT INTO "Course" VALUES (20, 'Art & Design');
INSERT INTO "Course" VALUES (30, 'Logic');

CREATE TABLE "Student" (
  "ID" INTEGER PRIMARY KEY,
  "Name" VARCHAR(50),
  "CID" INTEGER
);
INSERT INTO "Student" VALUES (1, 'Alice', 10);
INSERT INTO "Student" VALUES (2, 'Bob', 20);
INSERT INTO "Student" VALUES (3, 'Carol', NULL);
